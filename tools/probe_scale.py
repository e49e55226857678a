"""One-decade-further scale probe: run the scale-critical registry
queries at an arbitrary sf dir (built with tools/make_sf1.py — e.g.
sf100 = 1000x the driver's bench scale) and record wall times, so the
scaling table can show another decade of the curve and any emerging
hotspot is found by measurement, not conjecture.

The five probed ops are the ones whose 100 TB viability the design
leans on: banded-LSH pair generation, connected-components clustering,
BM25 over the persisted postings index, the d² covariance reduction,
and the per-key gap-fill.

Usage: python tools/probe_scale.py [sf_dir] [--json out.json] [query ...]
Single run per query (these are minutes-long at sf100); wall time
includes the full query incl. any build-once index construction, which
is reported separately where the registry splits it.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PROBES = [
    "doc_lsh_pairs",
    "doc_dedup_clusters",
    "doc_bm25_search",
    "emb_covariance",
    "events_resample_ffill",
]


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    sf_dir = argv[0] if argv else "/root/repo/testdata/sf100"
    names = argv[1:] or PROBES

    from finlogic_spark.driver_queries import QUERIES
    from finlogic_spark.session import get_spark

    spark = get_spark("scale-probe")
    out = {"sf_dir": sf_dir, "queries": {}}
    for name in names:
        if spark.sparkContext._jsc is None or spark.sparkContext._jsc.sc().isStopped():
            # a prior OOM can kill the context; keep probing the rest
            from pyspark.sql import SparkSession

            SparkSession._instantiatedSession = None
            SparkSession._activeSession = None
            spark = get_spark("scale-probe-recovered")
        t0 = time.perf_counter()
        try:
            n = QUERIES[name](spark, sf_dir).count()
            out["queries"][name] = {
                "wall_s": round(time.perf_counter() - t0, 1),
                "rows": n,
            }
        except Exception as e:  # record, keep probing
            out["queries"][name] = {
                "wall_s": round(time.perf_counter() - t0, 1),
                "err": str(e)[:300],
            }
        print(name, out["queries"][name], flush=True)
    print(json.dumps(out))
    if json_out:
        with open(json_out, "w") as f:
            json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
