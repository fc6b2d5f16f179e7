"""Workload ``query_mix``: one analyst client against the lake and the
query registry, as a closed loop.

The timed ops repeat one fixed block of 14 (:data:`BLOCK`): eight
flagship schedule-deviation queries over one partition-pruned day to the
noop sink, one ``day_slice_arrow``, one ``compact_partition`` into the
compacted zone (see ``lake_ops``) and four entries of a fixed registry
panel (see ``registry_ops``).  Flagship queries are more than half of
the ops, so the median op is always a flagship query, whatever the other
six cost.

Set-up warms every op kind and every panel entry once, then repeats the
flagship query, which keeps getting faster for several runs, until two
runs in a row agree within 10 %.  The correctness gates run after the
timed window, outside both ``setup_s`` and ``work_s``.
"""

from __future__ import annotations

import time

import numpy as np

from perfbench.harness import Result, SparkLedger, Tracer, median_or_zero, settled
from perfbench.lake_ops import Lake
from perfbench.registry_ops import Registry

#: One block of ops, in a fixed order: an op's cost depends on the ops
#: just before it, and a seeded shuffle moved op latencies by 10-15 %
#: between runs.
BLOCK = (
    "flagship", "registry", "flagship", "slice", "flagship", "registry", "flagship",
    "flagship", "registry", "flagship", "compact", "flagship", "registry", "flagship",
)  # fmt: skip
NOMINAL_OP_S = 1.0  # mean op on a 4-core host; sets the op count
MIN_WARM_FLAGSHIP, MAX_WARM_FLAGSHIP = 2, 6


def run(
    spark, work: str, seed: int, n_ops: int, tracer: Tracer, host: dict, tiny: bool = False
) -> Result:
    rng = np.random.default_rng(seed)
    n_blocks = max(1, round(n_ops / len(BLOCK)))
    lake = Lake(rng, work, tiny)
    reg = Registry(rng, work, tiny, n_blocks * BLOCK.count("registry"))

    def plan() -> list[tuple[str, object]]:
        """The blocks' ops; the seed picks each lake op's day."""
        names = iter(reg.names)
        ops = []
        for _ in range(n_blocks):
            for kind in BLOCK:
                if kind == "registry":
                    ops.append((kind, next(names)))
                else:
                    ops.append((kind, lake.days[int(rng.integers(0, len(lake.days)))]))
        return ops

    check_day = lake.days[int(rng.integers(0, len(lake.days)))]
    off = Tracer(enabled=False)
    t_setup = time.perf_counter()
    for kind in ("flagship", "slice", "compact"):
        lake.run(spark, kind, check_day, off, -1)
    for name in reg.names:
        reg.run(spark, name, off, -1)
    warm_ms: list[float] = []
    while len(warm_ms) < MAX_WARM_FLAGSHIP and not settled(warm_ms, MIN_WARM_FLAGSHIP):
        t = time.perf_counter()
        lake.run(spark, "flagship", lake.days[len(warm_ms) % len(lake.days)], off, -1)
        warm_ms.append((time.perf_counter() - t) * 1e3)
    setup_s = time.perf_counter() - t_setup

    windows = []
    for w in range(2 if tracer.enabled else 1):
        traced = tracer.enabled and w == 1
        windows.append(_window(spark, lake, reg, plan(), tracer if traced else None, host))

    lake_ok = lake.check(spark, check_day)
    bad = reg.check(spark)
    failed = len(bad) + (not lake_ok) + sum(w["failed"] for w in windows)
    attempted = 1 + len(reg.names) + sum(len(w["op_ms"]) + w["failed"] for w in windows)

    win = windows[0]
    result = Result(
        correct=failed == 0,
        attempted=attempted,
        failed=failed,
        setup_s=setup_s,
        work_s=sum(win["op_ms"]) / 1e3,
        op_ms=win["op_ms"],
        rows=win["rows"],
        details={
            "ops": win["kinds"],
            "warm_flagship_ms": warm_ms,
            "registry_sf": reg.sf,
            "gate_failures": bad,
        },
    )
    if tracer.enabled:
        result.layers = windows[1]["layers"]
        result.layers["trace.overhead_s"] = (sum(windows[1]["op_ms"]) - sum(win["op_ms"])) / 1e3
    return result


def _window(spark, lake: Lake, reg: Registry, ops, tracer, host) -> dict:
    """Run ``ops`` once each, reading after every op the rows it read from
    storage (status-store input records).  With a tracer, also record
    each layer's readings."""
    op_ms, kinds, rows, failed = [], [], 0, 0
    per: dict[str, list[float]] = {}
    ledger = SparkLedger(spark)
    tr = tracer or Tracer(enabled=False)

    def add(k, v):
        per.setdefault(k, []).append(float(v))

    for i, (kind, arg) in enumerate(ops):
        ledger.mark()
        t = time.perf_counter()
        try:
            with tr.span("op", op=i):
                if kind == "registry":
                    reg.run(spark, arg, tr, i)
                else:
                    lake.run(spark, kind, arg, tr, i)
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            failed += 1
            continue
        ms = (time.perf_counter() - t) * 1e3
        op_ms.append(ms)
        kinds.append(arg if kind == "registry" else kind)
        spark_m = ledger.read()
        rows += int(spark_m["input_records"])
        if not tracer:
            continue
        for k, v in spark_m.items():
            add(f"spark.{k}", v)
        add("spark.driver_overhead_ms", ms - spark_m["executor_run_ms"] / host["local_n"])
        if kind == "registry":
            reg.trace(spark, arg, i, ms, tr, add)
        else:
            lake.trace(spark, kind, arg, i, ms, tr, add)
    layers = {k: median_or_zero(v) for k, v in per.items()}
    return {"op_ms": op_ms, "kinds": kinds, "rows": rows, "failed": failed, "layers": layers}
