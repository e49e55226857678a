"""FinLogic-engine benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload finlogic_session --seed 1 \\
        --seconds 6 --trace 0

Run from the repository root. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` they are the per-layer ones. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {  # workload name -> module
    "finlogic_session": "wl_finlogic",
    "curation_batch": "wl_curation",
    "vector_serving": "wl_vectors",
}
E2E_UNITS = {"setup_s": "s", "op_ms": "ms", "result_quality": "ratio"}


def pin_environment(work: str) -> dict:
    """Pin what the engine reads from the environment; everything the
    run writes stays under ``work``."""
    cpus = str(len(os.sched_getaffinity(0)))  # what nproc reports
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": cpus,
        # Below physical RAM: the session default (24g) exceeds small hosts.
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        # One client thread: keep numpy/BLAS in the client single-threaded.
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    }
    os.environ.update(env)
    return env


def spark_conf(work: str, traced: bool) -> dict:
    from harness import event_log_conf

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update(event_log_conf(os.path.join(work, "eventlog")))
    return conf


def measure(wl, rec, state, client, seconds: float, min_ops: int) -> tuple[list, float]:
    """Closed loop: the client's next call starts when the previous one
    returns, until ``seconds`` have passed and ``min_ops`` calls ran,
    stopping only after whole cycles (one call of every kind), so every
    kind has the same number of samples."""
    ops = []
    start = time.perf_counter()
    for o in wl.calls(rec, state, client):
        ops.append(o)
        if (
            time.perf_counter() - start >= seconds
            and len(ops) >= min_ops
            and len(ops) % len(wl.KINDS) == 0
        ):
            break
    return ops, time.perf_counter() - start


def e2e_metrics(wl, truth, state, ops, setup_s, work) -> tuple[dict, int]:
    from harness import op_summary

    failed, quality = wl.check(work, truth, state, ops)
    values = {
        "setup_s": setup_s,
        "op_ms": op_summary(ops, wl.KINDS),
        "result_quality": quality,
    }
    return values, failed


def run(workload: str, seed: int, seconds: float, traced: bool, layer_names: dict) -> dict:
    work = os.path.join(HERE, ".work", f"{workload}-{seed}-{os.getpid()}")
    try:
        return _run(work, workload, seed, seconds, traced, layer_names)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(work, workload, seed, seconds, traced, layer_names) -> dict:
    import importlib

    from harness import Recorder, parse_event_log, stop_spark, tree_peak_rss_mb

    data = os.path.join(work, "data")
    os.makedirs(data, exist_ok=True)
    env = pin_environment(work)
    wl = importlib.import_module(WORKLOADS[workload])
    truth = wl.generate(data, seed)

    import duckdb
    import pyspark
    from finlogic_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{workload}", extra_conf=spark_conf(work, traced))
    get_spark_s = time.perf_counter() - t0
    try:
        # Set-up repeats: the first pays JIT and codegen warm-up, the
        # median is a warm set-up. In a traced run the second repeat is
        # traced and the third is the untraced reference.
        setup_times, state, setup_rec = [], None, None
        for rep in range(3 if traced else wl.SETUP_REPS):
            if state is not None:
                wl.teardown(state)
            rec = Recorder(spark, traced=traced and rep == 1)
            t0 = time.perf_counter()
            state = wl.setup(spark, rec, data, truth, rep)
            setup_times.append(time.perf_counter() - t0)
            if rec.traced:
                setup_rec = rec
        client = wl.Client(seed, truth)
        if wl.WARMUP or traced:  # traced: both halves below start warm
            measure(wl, Recorder(spark), state, client, 0, len(wl.KINDS))  # untimed
        if traced:
            plain = Recorder(spark)
            ops_u, wall_u = measure(wl, plain, state, client, seconds / 2, wl.MIN_OPS)
            trec = Recorder(spark, traced=True)
            ops_t, wall_t = measure(wl, trec, state, client, seconds / 2, wl.MIN_OPS)
            ops, wall = ops_u + ops_t, wall_u + wall_t
            # Untimed: a workload whose timed operation is one composed
            # plan gets its per-layer counters from a staged twin.
            srec = Recorder(spark, traced=True)
            if hasattr(wl, "staged_pass"):
                wl.staged_pass(srec, state)
        else:
            rec = Recorder(spark)
            ops, wall = measure(wl, rec, state, client, seconds, wl.MIN_OPS)
        peak = tree_peak_rss_mb()
        print("perfbench ops " + json.dumps([[o["kind"], round(o["ms"])] for o in ops]), file=sys.stderr)
    finally:
        stop_spark(spark)

    if not traced:
        vals, failed = e2e_metrics(
            wl, truth, state, ops,
            get_spark_s + sorted(setup_times)[len(setup_times) // 2], data,
        )
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in vals.items()}
    else:
        groups = parse_event_log(os.path.join(work, "eventlog"))
        vu, fu = e2e_metrics(wl, truth, state, ops_u, setup_times[-1], data)
        vt, ft = e2e_metrics(wl, truth, state, ops_t, setup_times[1], data)
        failed = fu + ft
        layers = wl.layers(setup_rec.ops + trec.ops + srec.ops, groups, truth, state)
        layers["session.get_spark.ms"] = get_spark_s * 1e3
        layers["session.peak_rss_mb"] = peak
        for k in vt:
            layers[f"trace_overhead.{k}"] = vt[k] - vu[k]
        layers["trace.span_self_time_gap_ms"] = max(
            r.self_time_gap_ms() for r in (setup_rec, trec, srec)
        )
        spans_dir = os.path.join(HERE, ".work", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        trec.write_spans(os.path.join(spans_dir, f"{workload}-{seed}.json"))
        metrics = {}
        for name, unit in layer_names.items():
            metrics[name] = {"value": float(layers.get(name, 0.0)), "unit": unit}
    env_record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(traced),
        "spark": pyspark.__version__, "duckdb": duckdb.__version__,
        "python": sys.version.split()[0], "ops": len(ops), "wall_s": round(wall, 3),
        **{k: v for k, v in env.items() if k.startswith("SPARK_GRAFT_")},
    }
    return {
        "env": env_record,
        "result": {
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": metrics,
        },
    }


def _layer_names() -> dict[str, str]:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "finlogic_spark", "__init__.py")):
        print("perfbench: finlogic_spark not found next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    out = run(a.workload, a.seed, a.seconds, bool(a.trace), _layer_names())
    print("perfbench env " + json.dumps(out["env"], sort_keys=True))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
