"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ingest_live --seed 1 --seconds 10 --trace 0

Run it from the repository root.  The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json, with ``--trace 1``
the per-layer ones.  The line before it records the host, the sizing
and the run's details; the spans of a traced run are written to
``.perfbench_out/``.  See perfbench/README.md for the workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Op count of one run = --seconds / nominal op time on a 4-core host, so
#: that a run measures about --seconds there, and the same fixed work on
#: every host.
WORKLOADS = {
    "ingest_live": ("perfbench.ingest_live", 4),
    "query_mix": ("perfbench.query_mix", 14),
}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _metrics(spec: dict, result, trace: bool, setup: dict) -> dict:
    from perfbench.harness import geomean

    if not trace:
        values = {
            "setup_s": result.setup_s + setup["session.start_s"] + setup["plans.import_s"],
            "work_s": result.work_s,
            "op_p50_ms": statistics.median(result.op_ms),
            "op_geomean_ms": geomean(result.op_ms),
            "rows_per_s": result.rows / result.work_s,
        }
        names = spec["end_to_end"]
    else:
        values = dict(setup)
        values.update(result.layers)
        names = spec["per_layer"]
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in names}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: minimal inputs and op counts, for the smoke test")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import gtfs_realtime_etl_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    # Python workers resolve the engine through PYTHONPATH.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )

    import importlib

    from perfbench.harness import (
        Tracer,
        cpu_probe_ms,
        host_fingerprint,
        start_session,
        stop_session,
        versions,
    )

    spec = _spec()
    module, min_ops = WORKLOADS[args.workload]
    nominal = importlib.import_module(module).NOMINAL_OP_S
    n_ops = max(min_ops, round(args.seconds / nominal))
    if args.scale == "tiny":
        n_ops = 2
    host = host_fingerprint()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    tracer = Tracer(enabled=bool(args.trace))
    probe_ms = [cpu_probe_ms()]
    spark = None
    try:
        t = time.perf_counter()
        with tracer.span("setup.session"):
            spark = start_session(host, work)
            spark.range(1).count()
        setup = {"session.start_s": time.perf_counter() - t, "plans.import_s": 0.0}
        if args.workload == "query_mix":  # ingest_live bypasses the registry
            t = time.perf_counter()
            with tracer.span("setup.plans_import"):
                import gtfs_realtime_etl_spark.plans.queries  # noqa: F401
            setup["plans.import_s"] = time.perf_counter() - t
        mod = importlib.import_module(module)
        result = mod.run(spark, work, args.seed, n_ops, tracer, host, tiny=args.scale == "tiny")
        if tracer.enabled:
            for name, ms in tracer.self_ms().items():
                if not name.startswith("setup."):
                    result.layers[f"self_ms.{name}"] = ms / n_ops
        info = dict(host, **versions(spark))
        probe_ms.append(cpu_probe_ms())
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    metrics = _metrics(spec, result, bool(args.trace), setup)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "ops": len(result.op_ms),
        "host": dict(info, cpu_probe_ms=probe_ms),
        "setup": setup,
        "op_ms": [round(x, 1) for x in result.op_ms],
        "details": result.details,
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(dict(record, metrics=metrics, spans=tracer.dump()), f)
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": bool(result.correct),
                "attempted": int(result.attempted),
                "failed": int(result.failed),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
