"""Alternating A/B of one perfbench workload between two checkouts.

    python tools/ab.py PARENT_DIR CHANGE_DIR --workload finlogic_session \\
        --seeds 1 2 3 4 5 6 7 8 9 10 [--out BENCH_x.json]

Pair i runs ``python3 perfbench/run.py --workload W --seed N --seconds S``
in both checkouts back to back on seed N, the parent first on even
pairs and the change first on odd ones, so host drift hits both sides
alike. S is ``run_seconds`` of the change's BENCHMARK.json, the run
length the benchmark itself uses. Prints, per end-to-end metric, each
side's median and quartiles and the pairs the change won (by the
metric's ``better`` direction in the same file), plus ``failed`` per
side. ``--out`` writes every run and that summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def pair_order(i: int, parent: str, change: str) -> tuple[str, str]:
    """The sides of pair ``i`` in run order: parent first on even pairs."""
    return (parent, change) if i % 2 == 0 else (change, parent)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced perfbench run; its result JSON (last stdout line)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"error": (p.stderr or "")[-2000:], "wall_s": wall}
    out = json.loads(lines[-1])
    out["wall_s"] = wall
    return out


def summarize(runs: list[dict], better: dict[str, str]) -> dict:
    """Per metric and side: median, quartiles and values; pairs won."""
    summary = {}
    for name, direction in better.items():
        side = {}
        for s in ("parent", "change"):
            vals = [r[s]["metrics"][name]["value"] for r in runs if name in r[s].get("metrics", {})]
            q1, q2, q3 = quartiles(vals)
            side[s] = {"median": q2, "q1": q1, "q3": q3, "values": vals}
        sign = 1 if direction == "lower" else -1
        won = sum(
            sign * (r["change"]["metrics"][name]["value"] - r["parent"]["metrics"][name]["value"]) < 0
            for r in runs
            if name in r["parent"].get("metrics", {}) and name in r["change"].get("metrics", {})
        )
        summary[name] = {**side, "change_won": won, "pairs": len(runs), "better": direction}
    summary["failed"] = {
        s: [r[s].get("failed", "error") for r in runs] for s in ("parent", "change")
    }
    return summary


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--out")
    a = ap.parse_args(argv)
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    runs = []
    for i, seed in enumerate(a.seeds):
        pair = {"seed": seed, "first": "parent" if i % 2 == 0 else "change"}
        for checkout in pair_order(i, a.parent, a.change):
            side = "parent" if checkout == a.parent else "change"
            pair[side] = run_once(checkout, a.workload, seed, seconds)
        runs.append(pair)
        print(f"pair {i} seed {seed}: " + json.dumps(
            {s: {k: v["value"] for k, v in pair[s].get("metrics", {}).items()} for s in ("parent", "change")}
        ), file=sys.stderr, flush=True)

    summary = summarize(runs, better)
    for name, s in summary.items():
        if name == "failed":
            print(f"failed  parent {s['parent']}  change {s['change']}")
            continue
        p, c = s["parent"], s["change"]
        print(f"{name:16s} parent {p['q1']:.4g} / {p['median']:.4g} / {p['q3']:.4g}  "
              f"change {c['q1']:.4g} / {c['median']:.4g} / {c['q3']:.4g}  "
              f"change won {s['change_won']}/{s['pairs']} ({s['better']} is better)")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seconds": seconds, "seeds": a.seeds,
                       "cpus": len(os.sched_getaffinity(0)),
                       "runs": runs, "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
