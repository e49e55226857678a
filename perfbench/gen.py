"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed (numpy ``default_rng``)
and writes Parquet with pyarrow; the engine only ever sees the files.
Besides the tables, each generator returns the ground truth the output
checks need (planted duplicates, vectors, texts), kept in memory.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from finlogic_spark.fixtures import (
    ACC_NAMES_PT,
    BASE_CODES,
    LANGUAGE_ROWS,
    SEGMENTS,
)


def _write(df: pd.DataFrame, path: str) -> str:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return path


# ---------------------------------------------------------------------------
# finlogic_session: FinLogic-shaped financials / trades / language tables
# ---------------------------------------------------------------------------

N_COMPANIES = 210
NAME_WORDS = (
    "ENERGIA", "PETRO", "BANCO", "VAREJO", "SIDERURGICA", "TELECOM",
    "AGRO", "SAUDE", "LOGISTICA", "MINERACAO", "SANEAMENTO", "SEGUROS",
)


def account_codes() -> list[str]:
    """BASE_CODES extended to a depth-4 tree of ~290 codes: five depth-3
    children under every depth-2 base code and three depth-4 children
    under each of those (codes already in BASE_CODES are reused)."""
    codes = list(BASE_CODES)
    seen = set(codes)
    for parent in [c for c in BASE_CODES if c.count(".") == 1]:
        for i in range(1, 6):
            child = f"{parent}.{i:02d}"
            for code in [child] + [f"{child}.{j:02d}" for j in range(1, 4)]:
                if code not in seen:
                    seen.add(code)
                    codes.append(code)
    return sorted(codes)


def account_name_pt(code: str) -> str:
    return ACC_NAMES_PT.get(code, f"Conta {code}")


def language_rows(codes: list[str]) -> list[tuple[str, str]]:
    """Fixture translations plus English names for every other generated
    code whose last segment is odd; the rest keep the "(pt) " fallback."""
    rows = list(LANGUAGE_ROWS)
    for code in codes:
        if code not in ACC_NAMES_PT and int(code.rsplit(".", 1)[1]) % 2:
            rows.append((account_name_pt(code), f"Account {code}"))
    return rows


def _tax_id(cvm_id: int) -> str:
    d = f"{cvm_id:014d}"
    return f"{d[:2]}.{d[2:5]}.{d[5:8]}/{d[8:12]}-{d[12:]}"


def make_finlogic(out_dir: str, seed: int) -> dict:
    """FinLogic-shaped tables: 210 companies, 2009-2023, annual +
    quarterly, consolidated + separate, 278 account codes, 0.3% of the
    entries duplicated on their logical key (the copy has a later
    entry_id and a doubled value)."""
    rng = np.random.default_rng(seed)
    codes = account_codes()
    n_codes = len(codes)
    is_eps = np.array([c.startswith("3.99") for c in codes])
    periods = []  # (company index, period_end, is_annual)
    # The table shape does not depend on the seed (so set-up and call
    # costs compare across seeds); values, duplicates, trades and the
    # client's choices do.
    for i in range(N_COMPANIES):
        tail_quarters = i % 3
        end_year = 2022 if tail_quarters else 2023
        n_years = 15 if i == 0 else 1 + (i * 7) % 6
        for y in range(end_year - n_years + 1, end_year + 1):
            periods.append((i, dt.date(y, 12, 31), True))
        for m, d in ((3, 31), (6, 30), (9, 30))[:tail_quarters]:
            periods.append((i, dt.date(2023, m, d), False))
    reports = [(i, p, a, c) for i, p, a in periods for c in (True, False)]
    comp = np.repeat(np.array([r[0] for r in reports]), n_codes)
    code_idx = np.tile(np.arange(n_codes), len(reports))
    scale = 10.0 ** rng.uniform(8, 11, N_COMPANIES)
    mult = np.repeat(np.array([1.0 if r[3] else 0.6 for r in reports]), n_codes)
    value = np.round(scale[comp] * mult * (0.1 + rng.random(comp.size)), 2)
    eps = np.round(rng.uniform(0.5, 20.0, comp.size), 2)
    value = np.where(is_eps[code_idx], eps, value)
    cvm = 1000 + 7 * np.arange(N_COMPANIES)
    names = np.array(
        [f"{NAME_WORDS[i % len(NAME_WORDS)]} {i:03d} SA" for i in range(N_COMPANIES)]
    )
    taxes = np.array([_tax_id(int(c)) for c in cvm])
    codes_arr = np.array(codes)
    names_pt = np.array([account_name_pt(c) for c in codes])
    rep_period = np.repeat(np.array([r[1] for r in reports], dtype="datetime64[D]"), n_codes)
    rep_annual = np.repeat(np.array([r[2] for r in reports]), n_codes)
    rep_cons = np.repeat(np.array([r[3] for r in reports]), n_codes)
    df = pd.DataFrame(
        {
            "cvm_id": cvm[comp].astype("int64"),
            "name_id": names[comp],
            "tax_id": taxes[comp],
            "acc_code": codes_arr[code_idx],
            "acc_name": names_pt[code_idx],
            "acc_value": value,
            "is_annual": rep_annual,
            "is_consolidated": rep_cons,
            "period_begin": rep_period.astype("datetime64[Y]").astype("datetime64[D]"),
            "period_end": rep_period,
        }
    )
    dup = df.iloc[np.sort(rng.choice(len(df), len(df) // 300, replace=False))].copy()
    dup["acc_value"] = dup["acc_value"] * 2
    df = pd.concat([df, dup], ignore_index=True)
    df.insert(0, "entry_id", np.arange(len(df), dtype="int64"))
    for col in ("period_begin", "period_end"):
        df[col] = df[col].dt.date
    _write(df, os.path.join(out_dir, "financials.parquet"))

    # Trades: ~90% of companies traded, a few below min_volume, and two
    # ids that have no financials.
    rows = []
    traded = []
    for i in list(range(N_COMPANIES)) + [9001, 9002]:
        cvm_id = int(cvm[i]) if i < N_COMPANIES else 90000 + i
        if i < N_COMPANIES and rng.random() < 0.08:
            continue
        low = i < N_COMPANIES and rng.random() < 0.03
        seg = SEGMENTS[int(rng.integers(len(SEGMENTS)))]
        for day in (10, 11, 12):
            rows.append(
                dict(
                    cvm_id=cvm_id,
                    trade_date=dt.date(2023, 4, day),
                    volume=5e4 if low else float(rng.uniform(2e5, 5e7)),
                    segment=seg,
                    is_restructuring=bool(rng.random() < 0.05),
                    most_traded_stock=f"TK{i:04d}3",
                )
            )
        if i < N_COMPANIES and not low:
            traded.append(int(cvm_id))
    trades = pd.DataFrame(rows)
    trades.insert(0, "entry_id", np.arange(len(trades), dtype="int64"))
    _write(trades, os.path.join(out_dir, "trades.parquet"))
    _write(
        pd.DataFrame(language_rows(codes), columns=["pt", "en"]),
        os.path.join(out_dir, "language.parquet"),
    )
    return {"traded_cvm_ids": traded}


# ---------------------------------------------------------------------------
# curation_batch: a documents corpus with planted defects
# ---------------------------------------------------------------------------

LANG_WORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "for", "with"),
    "de": ("der", "die", "und", "das", "von", "mit", "ist", "auf"),
    "fr": ("le", "la", "et", "un", "est", "pour", "dans", "avec"),
    "pt": ("o", "a", "que", "e", "em", "um", "para", "com"),
    "es": ("el", "la", "que", "y", "en", "es", "por", "con"),
}
LANGS = tuple(LANG_WORDS)
SOURCES = ("web", "news", "forum", "books", "code")
CONTENT_VOCAB = 20_000


_VOCAB = np.array([f"w{i}x" for i in range(CONTENT_VOCAB)])
_STOP = {lang: np.array(words) for lang, words in LANG_WORDS.items()}


def _doc_text(rng, lang: str, n_tokens: int) -> list[str]:
    """About a third stopwords of ``lang``, the rest content tokens."""
    stop = _STOP[lang]
    toks = np.where(
        rng.random(n_tokens) < 0.35,
        stop[rng.integers(0, len(stop), n_tokens)],
        _VOCAB[rng.integers(0, CONTENT_VOCAB, n_tokens)],
    )
    return toks.tolist()


def _mutate(rng, toks: list[str], frac: float) -> list[str]:
    """Replace ``frac`` of the tokens with fresh content tokens."""
    out = list(toks)
    for j in rng.choice(len(out), max(1, int(len(out) * frac)), replace=False):
        out[j] = f"v{int(rng.integers(0, CONTENT_VOCAB))}y"
    return out


def make_documents(
    out_dir: str,
    seed: int,
    n_docs: int,
    boilerplate: int,
) -> dict:
    """Documents with planted defects. Ids are a seeded permutation, so
    family order does not follow id order.

    - exact-dup groups: 3 copies differing only in case / whitespace;
    - near-dup families: an original plus 3 copies with ~6% of the
      tokens replaced (shingle Jaccard well above the LSH threshold);
    - low quality: punctuation soup and chant-like repetition;
    - PII: emails, URLs, phone numbers in otherwise clean docs;
    - one boilerplate family of ``boilerplate`` docs: a long shared
      template plus a short unique tail, forming a giant LSH bucket.
    """
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    kinds: list[str] = []
    langs: list[str] = []
    group: list[int] = []  # exact-dup group / near-dup family id, else -1
    g = 0

    def add(toks, kind, grp=-1):
        texts.append(" ".join(toks))
        kinds.append(kind)
        langs.append(lang)
        group.append(grp)

    lang = "en"
    template = _doc_text(rng, lang, 40)
    for _ in range(boilerplate):
        add(template + _doc_text(rng, lang, 4), "boilerplate")
    # A fixed schedule of 50 slots sets how many docs of each kind there
    # are, so the pipeline's work does not depend on the seed; token
    # content, lengths and ids do.
    j = 0
    while len(texts) < n_docs:
        slot = j % 50
        lang = LANGS[(j + j // 50) % len(LANGS)]
        toks = _doc_text(rng, lang, int(rng.integers(25, 60)))
        j += 1
        if slot < 2:
            g += 1
            for c in range(3):
                variant = [t.upper() if c == 1 and k % 5 == 0 else t for k, t in enumerate(toks)]
                add(["  "] + variant if c == 2 else variant, "exact", g)
        elif slot < 11:
            g += 1
            add(toks, "near", g)
            for _ in range(3):
                add(_mutate(rng, toks, 0.06), "near", g)
        elif slot < 13:
            add(["!!", "??", "#"] * 20 + toks[:5], "lowq")
        elif slot < 15:
            add((toks[:4] * 15)[:50], "lowq")
        elif slot < 17:
            pii = [
                f"mail{int(rng.integers(1e6))}@example.com",
                f"+55 11 9{int(rng.integers(1e7, 1e8))}",
                f"https://site{int(rng.integers(1e4))}.example.org/page",
            ]
            add(toks[:20] + pii + toks[20:], "pii")
        else:
            add(toks, "clean")
    texts, kinds, group = texts[:n_docs], kinds[:n_docs], group[:n_docs]
    ids = rng.permutation(n_docs).astype("int64") + 1
    docs = pd.DataFrame(
        {
            "doc_id": ids,
            "lang": langs[:n_docs],
            "source": [SOURCES[int(x)] for x in rng.integers(0, len(SOURCES), n_docs)],
            "text": texts,
        }
    )
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    return {"ids": ids, "kinds": kinds, "group": group, "texts": texts, "langs": langs[:n_docs]}


# ---------------------------------------------------------------------------
# vector_serving: topic-clustered embeddings with matching text
# ---------------------------------------------------------------------------

DIM = 32
N_TOPICS = 24
TOPIC_TERMS = 40


def make_vectors(out_dir: str, seed: int, n_docs: int, n_append: int, n_queries: int) -> dict:
    """``n_docs`` corpus docs, ``n_append`` docs held back for index
    appends, ``n_queries`` queries. Each doc belongs to a topic: its
    embedding is the unit-normalised topic centre plus noise, and its
    text mixes topic terms with background terms. Queries are drawn
    the same way, so nearest neighbours concentrate in one topic."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(N_TOPICS, DIM))

    def draw(n):
        topic = rng.integers(0, N_TOPICS, n)
        v = centres[topic] + rng.normal(scale=0.6, size=(n, DIM))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return topic, v

    total = n_docs + n_append
    topic, vecs = draw(total)
    words = []
    for t in topic:
        own = rng.integers(0, TOPIC_TERMS, 12)
        bg = rng.integers(0, 2000, 18)
        words.append(" ".join([f"t{t}k{o}" for o in own] + [f"bg{b}" for b in bg]))
    ids = np.arange(1, total + 1, dtype="int64")
    corpus = pd.DataFrame(
        {"vec_id": ids[:n_docs], "embedding": list(vecs[:n_docs]), "text": words[:n_docs]}
    )
    _write(corpus, os.path.join(out_dir, "corpus.parquet"))
    q_topic, q_vecs = draw(n_queries)
    q_terms = [
        [f"t{t}k{int(o)}" for o in rng.integers(0, TOPIC_TERMS, 3)] for t in q_topic
    ]
    return {
        "ids": ids,
        "vecs": vecs,
        "texts": words,
        "n_docs": n_docs,
        "queries": q_vecs,
        "query_terms": q_terms,
    }
