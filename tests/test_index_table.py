"""Jobs per build, append and open of the six persisted indexes, which
all write through ``sources/index_table.py`` (the
test_pagerank_small_regime_job_floor precedent: job counts do not move
with host load, so a planted schema-inference read or re-open fails
here). Tiny inputs; the bounds are the counts measured on them."""

from __future__ import annotations

import pytest
from conftest import count_jobs

from finlogic_spark.operators import bpe, search, similarity, text_dedup


def _frames(spark):
    vecs = [(i, [float((i * 7 + j) % 5) - 2.0 for j in range(4)]) for i in range(24)]
    texts = [(i, " ".join(f"w{(i + j) % 9}" for j in range(8))) for i in range(24)]
    return (
        spark.createDataFrame(vecs[:20], "vec_id long, embedding array<double>"),
        spark.createDataFrame(vecs[20:], "vec_id long, embedding array<double>"),
        spark.createDataFrame(texts[:20], "doc_id long, text string"),
        spark.createDataFrame(texts[20:], "doc_id long, text string"),
    )


def _cases(spark):
    """name -> (build, append or None, open, serving frame of a handle)."""
    corpus, new_vecs, docs, new_docs = _frames(spark)
    cents = [(0, [1.0, 1.0, 0.0, 0.0]), (1, [-1.0, 0.0, 1.0, 0.0])]
    return {
        "lsh": (
            lambda p: similarity.build_lsh_index_table(corpus, p, 4, 3, 2),
            lambda p: similarity.append_to_lsh_index(new_vecs, p),
            similarity.read_lsh_index,
            lambda h: h.df,
        ),
        "ivf": (
            lambda p: similarity.build_ivf_index_table(corpus, cents, p),
            lambda p: similarity.append_to_ivf_index(new_vecs, p),
            similarity.read_ivf_index,
            lambda h: h.df,
        ),
        "minhash": (
            lambda p: text_dedup.build_minhash_index_table(docs, p),
            lambda p: text_dedup.append_to_minhash_index(new_docs, p),
            text_dedup.read_minhash_index,
            lambda h: h.df,
        ),
        "positional": (
            lambda p: search.build_positional_postings_table(docs, p, n_buckets=4),
            lambda p: search.append_positional_postings(new_docs, p),
            search.read_positional_postings,
            lambda h: h.postings,
        ),
        "postings": (
            lambda p: search.build_postings_table(docs, p, n_buckets=4),
            None,  # corpus-global df/norms: this index rebuilds
            search.read_postings,
            lambda h: h.postings,
        ),
        "bpe": (
            lambda p: bpe.build_bpe_index(docs, p, num_merges=10),
            lambda p: bpe.append_bpe_index(new_docs, p),
            bpe.read_bpe_index,
            None,
        ),
    }


# (build, append, open) jobs measured at local[4], 8 shuffle partitions.
JOB_BOUNDS = {
    "lsh": (3, 3, 2),
    "ivf": (2, 2, 2),
    "minhash": (3, 3, 2),
    "positional": (2, 2, 2),
    "postings": (17, None, 4),
    "bpe": (6, 7, 4),
}


@pytest.mark.parametrize("name", sorted(JOB_BOUNDS))
def test_index_jobs_per_build_append_open(spark, tmp_path, name):
    build, append, open_, serving = _cases(spark)[name]
    path = str(tmp_path / name)
    out = {}

    def jobs(step, key, fn):
        return count_jobs(spark, f"{name}-{step}", lambda: out.update({key: fn()}))

    got = (
        jobs("build", "built", lambda: build(path)),
        None if append is None else jobs("append", "built", lambda: append(path)),
        jobs("open", "opened", lambda: open_(spark, path)),
    )
    got = tuple(g if w is not None else None for g, w in zip(got, JOB_BOUNDS[name]))
    assert all(g is None or g <= w for g, w in zip(got, JOB_BOUNDS[name])), got
    if serving is not None:
        # the frame a write returns is the one a fresh open serves
        built, opened = out["built"], out["opened"]
        assert serving(built).schema == serving(opened).schema
        assert sorted(serving(built).collect()) == sorted(serving(opened).collect())
