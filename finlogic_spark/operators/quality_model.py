"""Model-based document quality gate (engine-scope addition: the
learned-classifier curation tier every public pipeline — CCNet
[Wenzek et al., LREC'20], DCLM [Li et al., 2024] — runs ABOVE the
heuristic gates; this repo's unigram/bigram LM gates and quality
heuristics live in operators/corpus.py and functions/text.py).

Shape: a tiny logistic model over HASHED TOKEN-BUCKET frequencies
(feature hashing [Weinberger et al., ICML'09]), trained
deterministically on a bounded in-corpus sample against a proxy label
(the repo's existing quality_score heuristic — the CCNet pattern of
training against an available quality proxy rather than human labels),
then applied corpus-wide as a PURE EXPRESSION.

Why this scales to 100 TB where the trainer stays driver-side:
training reads a BOUNDED sample (``max_docs``, hash-ordered so the
subset is deterministic and uniform — the same bounded-driver-
materialization contract as k-means centroids and the BPE top-30k
vocab); scoring — the part that touches all 100 TB — is shuffle-free:
tokens → md5 bucket → integer weight lookup → one per-row fold. No
exchange beyond the scan, no UDF, no model object on the executors:
the model IS 65 integer literals in the plan.

Cross-engine determinism: weights are baked as INTEGER MICRO-UNITS
and the per-document fold is an exact integer sum (order-independent),
so Spark and any SQL engine produce bit-identical logits — the one
float op is a single division at the output edge (IEEE-exact for
integer operands), then the repo's floor(x*1e6+0.5) 6-dp rounding.
No sigmoid in the verified surface: the logit is monotone in the
probability, so thresholding at logit >= 0 IS thresholding at p >= 0.5
(emitting exp() would put a non-IEEE-pinned libm call inside the
value hash).
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from finlogic_spark.functions.text import tokens

N_BUCKETS = 64
MICRO = 1_000_000


# ------------------------------------------------------------- serial twin

def _tokens_py(text: str) -> list[str]:
    """Serial twin of functions.text.tokens (lower, whitespace split,
    empties removed)."""
    return [t for t in re.split(r"\s+", text.lower()) if t]


def token_bucket_py(tok: str, n_buckets: int = N_BUCKETS) -> int:
    """md5 hex head mod n_buckets — the one hash both engines share
    (first 4 hex chars = 16 bits, unbiased for power-of-two buckets)."""
    return int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:4], 16) % n_buckets


def quality_score_py(text: str) -> float:
    """Serial twin of functions.text.quality_score, used ONLY to derive
    the training proxy label (never cross-engine compared, so float is
    fine here)."""
    n = len(text)
    length_term = min(n / 500.0, 1.0)
    punct = len(re.findall(r"[^A-Za-z0-9\s]", text)) / max(n, 1)
    punct_term = 1.0 - min(punct * 4.0, 1.0)
    ts = _tokens_py(text)
    mean_len = sum(len(t) for t in ts) / len(ts) if ts else 0.0
    tok_term = 1.0 if 3 <= mean_len <= 10 else 0.5
    return (length_term + punct_term + tok_term) / 3.0


def train_quality_classifier(
    parquet_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = N_BUCKETS,
    max_docs: int = 20_000,
    iters: int = 300,
    lr: float = 1.0,
    l2: float = 1e-3,
) -> tuple[list[int], int]:
    """Deterministic logistic fit → (weights_micro[n_buckets],
    bias_micro). Pure pyarrow+numpy (zero Spark — the
    pca_components_numpy precedent), so the SAME function feeds the
    Spark literals and the oracle SQL literals.

    Sample: hash-ordered (md5 of ``qc|doc_id``) first ``max_docs``
    docs — deterministic, uniform, and BOUNDED regardless of corpus
    size. Label: quality_score_py >= its sample median (balanced
    classes by construction). Features: x_j = (tokens in bucket j) /
    n_tokens. Full-batch gradient descent, fixed iterations, float64 —
    no RNG anywhere, so the weights are a pure function of the data.
    Weights are rounded to integer micro-units at the edge; both
    engines consume the integers, never the floats."""
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[id_col, text_col])
    ids = t[id_col].to_pylist()
    texts = t[text_col].to_pylist()
    order = sorted(
        range(len(ids)),
        key=lambda i: hashlib.md5(f"qc|{ids[i]}".encode()).hexdigest(),
    )[:max_docs]
    docs = [(texts[i] or "") for i in order]
    docs = [d for d in docs if _tokens_py(d)]
    X = np.zeros((len(docs), n_buckets), dtype=np.float64)
    q = np.empty(len(docs), dtype=np.float64)
    for r, text in enumerate(docs):
        ts = _tokens_py(text)
        for tok in ts:
            X[r, token_bucket_py(tok, n_buckets)] += 1.0
        X[r] /= len(ts)
        q[r] = quality_score_py(text)
    y = (q >= np.median(q)).astype(np.float64)
    w = np.zeros(n_buckets, dtype=np.float64)
    b = 0.0
    m = len(docs)
    for _ in range(iters):
        z = X @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        err = p - y
        w -= lr * (X.T @ err / m + l2 * w)
        b -= lr * float(err.mean())
    return [int(round(v * MICRO)) for v in w], int(round(b * MICRO))


# --------------------------------------------------------------- Spark side

def token_bucket(tok: Column, n_buckets: int = N_BUCKETS) -> Column:
    """Spark twin of token_bucket_py: conv(hex head) is exact for 16
    bits, md5 hex is lowercase in both engines."""
    return (
        F.conv(F.substring(F.md5(tok), 1, 4), 16, 10).cast("int")
        % n_buckets
    )


def _logit_from_tokens(
    ts: Column,
    weights_micro: list[int],
    bias_micro: int,
    n_buckets: int = N_BUCKETS,
) -> Column:
    w_arr = F.lit([int(v) for v in weights_micro])
    fold = F.aggregate(
        ts,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.element_at(w_arr, token_bucket(t, n_buckets) + F.lit(1)).cast(
            "long"
        ),
    )
    return fold + F.size(ts).cast("long") * F.lit(int(bias_micro))


def classify_quality(
    df,
    text_col: str,
    id_col: str,
    weights_micro: list[int],
    bias_micro: int,
    n_buckets: int = N_BUCKETS,
):
    """(id, n_tokens, logit 6-dp, pred) for every doc with >= 1 token.
    ``logit`` = b + mean token weight, recovered from the integer fold
    by ONE division (exact-int operands → IEEE-identical everywhere);
    ``pred`` is sign-exact (integer compare, no float at all). The
    token array materializes ONCE per row (projected column, not a
    per-use re-tokenization)."""
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__ts")
    ).filter(F.size("__ts") > 0)
    raw = _logit_from_tokens(
        F.col("__ts"), weights_micro, bias_micro, n_buckets
    )
    n = F.size("__ts")
    return base.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        (
            F.floor(
                raw / (n.cast("double") * F.lit(float(MICRO))) * 1e6
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("logit"),
        (raw >= 0).alias("pred_quality"),
    )


def select_by_token_budget(
    df,
    text_col: str,
    id_col: str,
    weights_micro: list[int],
    bias_micro: int,
    token_budget: int,
    n_buckets: int = N_BUCKETS,
):
    """Budgeted curation: keep the highest-quality documents (by the
    learned logit) until ~``token_budget`` whitespace tokens are
    selected — "take the best N billion tokens", the selection step
    every curation pipeline runs after scoring.

    100 TB shape — NO global sort, NO global cumulative window: the
    exact approach (ORDER BY logit, running SUM(n_tokens)) serializes
    the cumsum through one partition. Instead the logit is quantized
    to 3-dp BUCKETS and the cutoff is chosen on the bucket table:

    1. one aggregate: (logit_q3 -> sum of tokens) — thousands of rows
       at any corpus size (logits live in a few units' range);
    2. a cumulative window over the SORTED BUCKET TABLE (bounded rows,
       fine on one partition) picks the lowest bucket that still fits
       before the budget is exhausted;
    3. one broadcast-able threshold filter over the corpus.

    The budget is honored to BUCKET granularity: every doc in the
    threshold bucket is included (deterministic — no tie-breaking
    inside a bucket), so the selected token count may overshoot by at
    most one bucket's tokens. Output: (id, n_tokens, logit, selected).
    Documents below the cutoff are RETAINED with selected=false so the
    caller can audit the boundary; filter on `selected` to materialize
    the kept corpus."""
    scored = classify_quality(
        df, text_col, id_col, weights_micro, bias_micro, n_buckets
    )
    q3 = (F.floor(F.col("logit") * 1000.0 + 0.5) / 1000.0).alias("__q3")
    scored = scored.select("*", q3)
    buckets = scored.groupBy("__q3").agg(
        F.sum("n_tokens").alias("__tok")
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("__q3").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cut = (
        buckets.withColumn("__cum", F.sum("__tok").over(w))
        # lowest bucket whose PRECEDING cumulative total is still under
        # budget — the bucket that crosses the line is included whole
        .filter(F.col("__cum") - F.col("__tok") < F.lit(int(token_budget)))
        .agg(F.min("__q3").alias("__cut"))
    )
    return scored.join(F.broadcast(cut)).select(
        F.col(id_col),
        "n_tokens",
        "logit",
        # coalesce: with token_budget <= 0 (or an empty scored set) the
        # cut aggregate yields NULL and ">= NULL" would make every row's
        # selected NULL instead of false — the public contract is a real
        # boolean a caller can filter on (ADVICE r14)
        F.coalesce(
            F.col("__q3") >= F.col("__cut"), F.lit(False)
        ).alias("selected"),
    )
