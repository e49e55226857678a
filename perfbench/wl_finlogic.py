"""finlogic_session: one closed-loop client driving the reference API.

Set-up is ``finlogic_spark.load`` plus the cache fill of financials,
trades and indicators. The client then runs cycles of the seven API
calls, each result collected; companies are drawn Zipf-skewed from the
traded set. Outputs are checked afterwards, untimed: info,
search_company, search_segment, Company and report against DuckDB over
the same Parquet, rank and indicators by keys plus a digest that must
repeat for repeated arguments.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import numpy as np

import gen

KINDS = [
    "api.info",
    "api.search_company",
    "api.search_segment",
    "api.rank",
    "company.Company",
    "company.report",
    "company.indicators",
]
RANK_BY = ["operating_margin", "roic", "net_margin", "return_on_equity"]
REPORT_TYPES = ["balance_sheet", "assets", "liabilities", "income_statement", "cash_flow", "equity"]
UNITS = [1.0, "t", "m", "b"]

MIN_OPS = len(KINDS)
WARMUP = False
SETUP_REPS = 1


REPEAT_CYCLES = 100  # cycles of the seeded call stream behind repeat_share


def generate(data: str, seed: int) -> dict:
    return {**gen.make_finlogic(data, seed), "seed": seed}


def setup(spark, rec, data: str, truth: dict, rep: int) -> dict:
    """``finlogic_spark.load`` plus the cache fill; the indicators fill
    is its own operation so its cost is attributed separately."""
    import finlogic_spark as fl

    with rec.op("api.Engine"):
        with rec.span("plan"):
            eng = fl.load(spark, data, entry_order_col="entry_id")
        with rec.span("action"):
            eng.financials.count()
            eng.trades.count()
    with rec.op("indicators.build_indicators"):
        with rec.span("action"):
            eng.indicators.count()
    return {"eng": eng}


def teardown(state: dict) -> None:
    eng = state["eng"]
    for df in (eng.financials, eng.trades, eng.indicators):
        df.unpersist()


class Client:
    """Seeded call generator: fixed kind order per cycle, seeded
    arguments, Zipf(1.1) company popularity over the traded set."""

    def __init__(self, seed: int, truth: dict):
        self.rng = np.random.default_rng(seed + 7)
        ids = list(truth["traded_cvm_ids"])
        self.rng.shuffle(ids)
        w = np.array([1.0 / (r + 1) ** 1.1 for r in range(len(ids))])
        self.ids, self.p = ids, w / w.sum()

    def args(self, kind: str):
        r = self.rng
        if kind == "api.search_company":
            return (gen.NAME_WORDS[int(r.integers(len(gen.NAME_WORDS)))][:4],)
        if kind == "api.search_segment":
            seg = gen.SEGMENTS[int(r.integers(len(gen.SEGMENTS)))]
            i = int(r.integers(0, max(1, len(seg) - 4)))
            return (seg[i:i + 4],)
        if kind == "api.rank":
            seg = None if r.random() < 0.5 else gen.SEGMENTS[int(r.integers(len(gen.SEGMENTS)))]
            return (seg, 10, RANK_BY[int(r.integers(len(RANK_BY)))])
        if kind == "company.Company":
            return (int(r.choice(self.ids, p=self.p)), UNITS[int(r.integers(len(UNITS)))])
        if kind == "company.report":
            return (REPORT_TYPES[int(r.integers(len(REPORT_TYPES)))], int(r.integers(0, 5)), int(r.integers(0, 4)))
        if kind == "company.indicators":
            return (int(r.integers(0, 4)),)
        return ()


def call(rec, state: dict, kind: str, args) -> dict:
    """One timed API call, its result collected."""
    from finlogic_spark.company import Company

    eng = state["eng"]
    with rec.op(kind) as o:
        if kind == "company.Company":
            with rec.span("action"):
                state["company"] = c = Company(eng, args[0], acc_unit=args[1])
            o["result"] = (c.name_id, c.tax_id)
            return o
        with rec.span("plan"):
            c = state.get("company")
            if kind == "api.info":
                df = eng.info()
            elif kind == "api.search_company":
                df = eng.search_company(*args)
            elif kind == "api.search_segment":
                df = eng.search_segment(*args)
            elif kind == "api.rank":
                df = eng.rank(segment=args[0], n=args[1], rank_by=args[2])
            elif kind == "company.report":
                df = c.report(args[0], acc_level=args[1], num_years=args[2])
            else:
                df = c.indicators(num_years=args[0])
        with rec.span("action"):
            rows = df.collect()
        o["result"] = (list(df.columns), [tuple(r) for r in rows])
    return o


def calls(rec, state: dict, client: Client):
    """Endless cycles of the seven calls; report and indicators act on
    the company the cycle's Company call opened."""
    while True:
        for kind in KINDS:
            args = client.args(kind)
            o = call(rec, state, kind, args)
            c = state.get("company")
            o.update(args=args, cvm_id=c._cvm_id if c else None, unit=c.acc_unit if c else None)
            yield o


# ---------------------------------------------------------------------------
# Output checks (untimed)
# ---------------------------------------------------------------------------


class Oracle:
    """DuckDB over the generated Parquet, filtered the way ``load`` filters
    (volume >= 100000, latest trade per company, traded companies only)."""

    def __init__(self, work: str):
        self.con = duckdb.connect()
        p = lambda n: os.path.join(work, f"{n}.parquet")
        self.con.execute(f"CREATE VIEW lang AS SELECT * FROM '{p('language')}'")
        self.con.execute(
            f"""CREATE TABLE trl AS SELECT * FROM '{p('trades')}'
                WHERE volume >= 100000
                QUALIFY row_number() OVER (PARTITION BY cvm_id
                    ORDER BY trade_date DESC, entry_id DESC) = 1"""
        )
        self.con.execute(
            f"""CREATE TABLE f AS SELECT * FROM '{p('financials')}'
                WHERE cvm_id IN (SELECT cvm_id FROM trl)"""
        )
        self.digests: dict = {}

    def q(self, sql: str, *params):
        return self.con.execute(sql, list(params)).fetchall()

    def check(self, o: dict) -> bool:
        kind, args = o["kind"], o["args"]
        if kind == "company.Company":
            want = self.q(
                "SELECT name_id, tax_id FROM f WHERE cvm_id = ? LIMIT 1", args[0]
            )
            return want == [o["result"]]
        cols, rows = o["result"]
        if kind == "api.info":
            (e, r, first, last, n), = self.q(
                """SELECT count(*), count(DISTINCT (cvm_id, is_annual, period_end)),
                          min(period_end), max(period_end), count(DISTINCT cvm_id) FROM f"""
            )
            got = dict(rows)
            return (got["accounting_entries"], got["number_of_reports"], got["first_report"],
                    got["last_report"], got["number_of_companies"]) == (
                str(e), str(r), str(first), str(last), str(n))
        if kind == "api.search_company":
            want = self.q(
                """WITH ids AS (SELECT name_id, cvm_id, tax_id FROM f
                     QUALIFY row_number() OVER (PARTITION BY cvm_id ORDER BY name_id, tax_id) = 1)
                   SELECT name_id, cvm_id, tax_id, segment, is_restructuring, most_traded_stock
                   FROM ids JOIN trl USING (cvm_id) WHERE contains(name_id, upper(?))""",
                args[0],
            )
            return sorted(rows) == sorted(want)
        if kind == "api.search_segment":
            want = self.q(
                "SELECT DISTINCT segment FROM trl WHERE contains(segment, ?) ORDER BY segment",
                args[0],
            )
            return rows == want
        if kind == "company.report":
            return self.check_report(o, cols, rows)
        if kind == "api.rank":
            seg, n, by = args
            vals = [r[cols.index(by)] for r in rows]
            traded = {r[0] for r in self.q("SELECT cvm_id FROM trl")}
            ok = (
                len(rows) <= n
                and all(a >= b for a, b in zip(vals, vals[1:]))
                and all(r[cols.index("cvm_id")] in traded for r in rows)
                and all(r[cols.index("is_consolidated")] for r in rows)
                and (seg is None or all(seg in r[cols.index("segment")] for r in rows))
            )
            return ok and self._digest(("rank", args), [round(v, 9) for v in vals])
        if kind == "company.indicators":
            from finlogic_spark.indicators import INDICATOR_ORDER

            names = [r[0] for r in rows]
            ok = (
                cols[0] == "indicator"
                and names == [i for i in INDICATOR_ORDER if i in names]
                and (args[0] == 0 or len(cols) - 1 <= args[0])
            )
            payload = [cols] + [[r[0]] + [None if v is None else round(v, 6) for v in r[1:]] for r in rows]
            return ok and self._digest(("ind", o["cvm_id"], o["unit"], args), payload)
        return False

    def _digest(self, key, payload) -> bool:
        d = hashlib.sha1(repr(payload).encode()).hexdigest()
        return self.digests.setdefault(key, d) == d

    def check_report(self, o, cols, rows) -> bool:
        from finlogic_spark.company import REPORT_TYPES as PREFIXES

        rtype, level, years = o["args"]
        unit, cvm = o["unit"], o["cvm_id"]
        pred = " OR ".join(f"starts_with(acc_code, '{p}')" for p in PREFIXES[rtype])
        want = self.q(
            f"""WITH d AS (
                  SELECT acc_code, acc_name, period_end, is_annual,
                         CASE WHEN starts_with(acc_code, '3.99') THEN acc_value
                              ELSE acc_value / ? END AS v
                  FROM f WHERE cvm_id = ? AND is_consolidated),
                b AS (SELECT max(period_end) AS last,
                             max(period_end) FILTER (WHERE is_annual) AS last_annual FROM d),
                r AS (SELECT d.*, b.last, b.last_annual FROM d, b
                      WHERE (d.is_annual OR d.period_end = b.last)
                        AND (? = 0 OR len(string_split(acc_code, '.')) <= ?)
                        AND ({pred})),
                p AS (SELECT DISTINCT period_end FROM r ORDER BY period_end DESC LIMIT ?)
                SELECT acc_code, coalesce(l.en, '(pt) ' || r.acc_name),
                       strftime(period_end, '%Y-%m-%d')
                         || CASE WHEN period_end = last AND last <> last_annual
                                 THEN ' ltm' ELSE '' END,
                       list(v)
                FROM r LEFT JOIN lang l ON r.acc_name = l.pt
                WHERE ? = 0 OR period_end IN (SELECT period_end FROM p)
                GROUP BY ALL""",
            unit, cvm, level, level, max(years, 1), years,
        )
        names = {a: n for a, n, _, _ in want}
        cells = {(a, p): vs for a, _, p, vs in want}
        periods = sorted({p for _, _, p, _ in want})
        if cols[:2] != ["acc_code", "acc_name"] or sorted(cols[2:]) != periods:
            return False
        if [r[0] for r in rows] != sorted(names):
            return False
        for r in rows:
            if r[1] != names[r[0]]:
                return False
            for p, v in zip(cols[2:], r[2:]):
                vs = cells.get((r[0], p), [0.0])
                if not any(math.isclose(v, x, rel_tol=1e-9, abs_tol=1e-9) for x in vs):
                    return False
        return True


def check(data: str, truth: dict, state: dict, ops: list[dict]) -> tuple[int, float]:
    """(failed ops, share of ops whose result matched)."""
    oracle = Oracle(data)
    failed = 0
    for o in ops:
        ok = o["ok"]
        if ok:
            try:
                ok = oracle.check(o)
            except (KeyError, IndexError, TypeError, ValueError):
                ok = False
        failed += not ok
    return failed, 1.0 - failed / max(1, len(ops))


def repeat_share(truth: dict) -> float:
    """Share of calls whose (kind, company, arguments) already occurred,
    over the first REPEAT_CYCLES cycles of the client's seeded stream:
    a property of the seeded mix, independent of how many cycles a run
    fits. ``api.info`` takes no arguments and is left out."""
    client, seen, rep, n = Client(truth["seed"], truth), set(), 0, 0
    for _ in range(REPEAT_CYCLES):
        company = None
        for kind in KINDS:
            args = client.args(kind)
            if kind == "company.Company":
                company = args
            if not args:
                continue
            key = (kind, company if kind.startswith("company.") else None, args)
            rep += key in seen
            n += 1
            seen.add(key)
    return rep / n


def layers(ops, groups, truth, state) -> dict:
    from harness import kind_layers

    out = kind_layers(ops, groups, KINDS, ("ms", "plan_ms", "jobs", "tasks"))
    out.update(kind_layers(ops, groups, ["api.Engine"], ("ms",)))
    out.update(
        kind_layers(ops, groups, ["indicators.build_indicators"], ("ms", "cpu_ms", "shuffle_bytes"))
    )
    out["api.session.repeat_share"] = repeat_share(truth)
    return out
