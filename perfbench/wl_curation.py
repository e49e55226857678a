"""curation_batch: one batch pass of the document curation pipeline.

Stages: text clean (PII redaction + normalisation) -> quality gate
(repetition signals + quality score) -> exact dedup -> MinHash-LSH
candidate pairs -> connected components -> keep the lowest id per
component -> stratified hash sample by language -> Parquet write.

A timed pass composes the stages into one plan (connected components
runs its own rounds) and the write is the action; traced or not, it is
the same plan. For the per-stage counters a traced run adds one staged
pass, where every stage is its own operation, persisted and counted,
so its time, CPU, shuffle, spill and output rows are attributed to it.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

import gen

N_DOCS = 2_000
BOILERPLATE = 40
KINDS = ["curation.pass"]
STAGES = [
    "text_clean.normalize_text",
    "text.quality_score",
    "text_dedup.exact_dedup",
    "text_dedup.minhash_lsh_pairs",
    "graph.connected_components",
    "dedup.keep_first",
    "corpus.stratified_sample_hash",
    "sources.write_parquet",
]
RATES = {"en": "g0", "de": "c0", "fr": "c0", "es": "c0", "pt": "a0"}
JACCARD_USEFUL = 0.5
REGIMES = {"single-job": 0, "label-first": 1, "star-first": 2}

# Three timed passes in every run: the first pass after the warm-up is
# still ~15% slower, so runs with different pass counts would report
# different medians for the same code, and a median of three drops one
# outlier pass.
MIN_OPS = 3
WARMUP = True
SETUP_REPS = 3


def generate(data: str, seed: int) -> dict:
    return gen.make_documents(data, seed, N_DOCS, BOILERPLATE)


def setup(spark, rec, data: str, truth: dict, rep: int) -> dict:
    """Open the input (file listing and schema); the pipeline has no
    cache or index to fill."""
    with rec.op("sources.read_parquet"):
        with rec.span("action"):
            docs = spark.read.parquet(os.path.join(data, "documents.parquet"))
            docs.schema  # noqa: B018 - forces the file listing
    return {"docs": docs, "data": data, "spark": spark}


def teardown(state: dict) -> None:
    pass


class Client:
    def __init__(self, seed: int, truth: dict):
        pass


def _stages(state: dict):
    """The stage functions in pipeline order; the write is ``_write``."""
    from pyspark.sql import functions as F

    from finlogic_spark.functions.text import quality_score, repetition_signals
    from finlogic_spark.functions.text_clean import normalize_text, pii_redact
    from finlogic_spark.operators.corpus import stratified_sample_hash
    from finlogic_spark.operators.dedup import keep_first
    from finlogic_spark.operators.graph import connected_components
    from finlogic_spark.operators.text_dedup import exact_dedup, minhash_lsh_pairs

    def clean(docs):
        return docs.filter(F.col("text").isNotNull()).withColumn(
            "text", normalize_text(pii_redact("text"))
        )

    def gate(df):
        return (
            df.withColumn("__s", repetition_signals("text"))
            .withColumn("__q", quality_score("text"))
            .filter(
                (F.col("__s.n_tokens") >= 20)
                & ~F.coalesce(
                    (F.col("__s.top_bigram_frac") > 0.3) | (F.col("__s.distinct_ratio") < 0.5),
                    F.lit(False),
                )
                & (F.col("__q") >= 0.55)
            )
            .drop("__s", "__q")
        )

    def pairs(ded):
        return minhash_lsh_pairs(ded, "text", "doc_id", k=3, num_hashes=6, bands=2)

    def components(ded, pairs_df):
        edges = pairs_df.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        labels = connected_components(
            edges, ded.select(F.col("doc_id").alias("id")), stats=state["cc_stats"]
        )
        return ded.join(labels.withColumnRenamed("id", "doc_id"), "doc_id")

    def keep(labelled):
        return keep_first(labelled, ["label"], ["doc_id"]).drop("label")

    def sample(kept):
        return stratified_sample_hash(kept, "lang", RATES, id_col="doc_id", default_rate="80")

    return clean, gate, exact_dedup, pairs, components, keep, sample


def _write(df, path: str) -> None:
    from finlogic_spark.sources import write_parquet

    write_parquet(df.select("doc_id", "lang", "source", "text"), path)


def _barrier(df):
    from pyspark.storagelevel import StorageLevel

    return df.localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)


def run_pass(rec, state: dict) -> dict:
    """One pass: the composed plan, written once."""
    clean, gate, exact_dedup, pairs, components, keep, sample = _stages(state)
    out = os.path.join(state["data"], "curated")
    state["cc_stats"] = {}
    with rec.op("curation.pass") as o:
        with rec.span("plan"):
            # Lazy checkpoints where doc_curation_pipeline puts them: the
            # gated and deduplicated frames feed several branches, and
            # Spark does not share subplans across branches.
            gated = _barrier(gate(clean(state["docs"])))
            ded = _barrier(exact_dedup(gated, "text", "doc_id"))
        with rec.span("action"):
            labelled = components(ded, pairs(ded))
            _write(sample(keep(labelled)), out)
    state["spark"].catalog.clearCache()
    return o


def staged_pass(rec, state: dict) -> dict:
    """One pass for the per-stage counters: each stage an operation of
    its own, inside the pass operation, persisted and counted."""
    from pyspark.storagelevel import StorageLevel

    clean, gate, exact_dedup, pairs, components, keep, sample = _stages(state)
    out = os.path.join(state["data"], "curated")
    state["cc_stats"] = {}
    rows = {}

    def stage(name, build):
        with rec.op(name) as s:
            with rec.span("plan"):
                df = build()
            with rec.span("action"):
                df = df.persist(StorageLevel.MEMORY_AND_DISK)
                rows[name] = s["rows_out"] = df.count()
        return df

    with rec.op("curation.staged_pass") as o:
        c = stage(STAGES[0], lambda: clean(state["docs"]))
        g = stage(STAGES[1], lambda: gate(c))
        d = stage(STAGES[2], lambda: exact_dedup(g, "text", "doc_id"))
        p = stage(STAGES[3], lambda: pairs(d))
        lab = stage(STAGES[4], lambda: components(d, p))
        k = stage(STAGES[5], lambda: keep(lab))
        smp = stage(STAGES[6], lambda: sample(k))
        with rec.op(STAGES[7]) as w:
            with rec.span("action"):
                _write(smp, out)
            w["rows_out"] = rows[STAGES[6]]
    state["pairs"] = [(r[0], r[1]) for r in p.collect()]
    state["spark"].catalog.clearCache()
    return o


def calls(rec, state: dict, client: Client):
    while True:
        o = run_pass(rec, state)
        o["cc"] = dict(state["cc_stats"])
        o["out"] = _read_output(os.path.join(state["data"], "curated"))
        yield o


def _read_output(path: str) -> dict:
    t = pq.read_table(path, columns=["doc_id", "text"])
    return {"ids": t.column("doc_id").to_pylist(), "texts": t.column("text").to_pylist()}


# ---------------------------------------------------------------------------
# Output checks (untimed)
# ---------------------------------------------------------------------------


def _sampled(doc_id: int, lang: str) -> bool:
    """Python twin of corpus.stratified_sample_hash for RATES."""
    frac = hashlib.md5(f"smp|{doc_id}".encode()).hexdigest()[:2]
    return frac < RATES.get(lang, "80")


def _families(truth: dict, kind: str) -> dict[int, list[int]]:
    fam: dict[int, list[int]] = {}
    for doc_id, k, g in zip(truth["ids"], truth["kinds"], truth["group"]):
        if k == kind:
            fam.setdefault(g, []).append(int(doc_id))
    return fam


def check_pass(o: dict, truth: dict) -> tuple[bool, float]:
    """(outputs correct, near-dup recall) for one pass.

    Correct: every planted exact-dup group has exactly one survivor
    when its lowest id passes the sample (none otherwise), and no two
    outputs share canonical text. Recall: planted near-dup docs (each
    family member except its lowest id) that the sample would keep,
    and that the pass removed, over all such docs."""
    out_ids = set(o["out"]["ids"])
    lang = dict(zip((int(i) for i in truth["ids"]), truth["langs"]))
    ok = True
    for members in _families(truth, "exact").values():
        rep = min(members)
        survivors = sum(m in out_ids for m in members)
        ok &= survivors == (1 if _sampled(rep, lang[rep]) else 0)
    canon = [" ".join(t.lower().split()) for t in o["out"]["texts"]]
    ok &= len(set(canon)) == len(canon)
    planted = removed = 0
    for members in _families(truth, "near").values():
        for m in sorted(members)[1:]:
            if _sampled(m, lang[m]):
                planted += 1
                removed += m not in out_ids
    return ok, removed / max(1, planted)


def check(data: str, truth: dict, state: dict, ops: list[dict]) -> tuple[int, float]:
    failed, recalls = 0, []
    for o in ops:
        ok, recall = check_pass(o, truth) if o["ok"] else (False, 0.0)
        failed += not ok
        recalls.append(recall)
    return failed, float(np.median(recalls))


def _useful_ratio(pairs, truth: dict, limit: int = 20_000) -> float:
    """Share of candidate pairs whose true 3-word-shingle Jaccard is at
    least JACCARD_USEFUL (on a seeded sample of at most ``limit``)."""
    if not pairs:
        return 0.0
    rng = np.random.default_rng(0)
    if len(pairs) > limit:
        pairs = [pairs[i] for i in rng.choice(len(pairs), limit, replace=False)]
    text = dict(zip((int(i) for i in truth["ids"]), truth["texts"]))

    def sh(doc_id):
        t = " ".join(text[doc_id].lower().split()).split()
        return {" ".join(t[i:i + 3]) for i in range(max(1, len(t) - 2))}

    cache: dict[int, set] = {}
    useful = 0
    for a, b in pairs:
        sa = cache.setdefault(a, sh(a))
        sb = cache.setdefault(b, sh(b))
        useful += len(sa & sb) >= JACCARD_USEFUL * len(sa | sb)
    return useful / len(pairs)


def layers(ops, groups, truth, state) -> dict:
    from harness import kind_layers, median

    stage_ops = [o for o in ops if o["kind"] in STAGES]
    out = kind_layers(stage_ops, groups, STAGES, ("ms", "cpu_ms", "shuffle_bytes", "spill_bytes"))
    out.update(kind_layers(ops, groups, KINDS, ("ms", "jobs", "cpu_ms")))
    for name in STAGES:
        out[f"{name}.rows_out"] = median([o["rows_out"] for o in stage_ops if o["kind"] == name])
    lsh = [groups.get(o["group"], {}) for o in stage_ops if o["kind"] == STAGES[3]]
    skews = [max(g["task_ms"]) / max(1.0, median(g["task_ms"])) for g in lsh if g.get("task_ms")]
    out["text_dedup.minhash_lsh_pairs.task_skew"] = median(skews)
    out["text_dedup.minhash_lsh_pairs.useful_ratio"] = _useful_ratio(state.get("pairs", []), truth)
    cc = [o["cc"] for o in ops if o["kind"] == "curation.pass"]
    if cc:
        out["graph.connected_components.rounds"] = cc[-1].get("label_rounds", 0) + cc[-1].get("star_rounds", 0)
        out["graph.connected_components.regime"] = REGIMES.get(cc[-1].get("auto_choice"), -1)
    return out
