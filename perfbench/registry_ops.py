"""Registry-side ops of ``query_mix``: a fixed panel of query-registry
entries over a seeded TPC-H-ish star schema (sf0.01).

One op is one builder call plus one write of its result to the noop
sink.  The panel is a stratified sample over the ``plans`` modules drawn
with a fixed seed, so every run measures the same entries; the run's
seed generates the tables.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np

from perfbench import gen
from perfbench.harness import Tracer

SF = 0.01
PANEL_SEED = 20261017

#: Entries left out of the panel.  An op over 2 s would be a large share
#: of a run by itself; an oracle over 5 s would make the correctness gate
#: most of a run.  Times are one warm run at sf0.01 on 4 cores, except the
#: first four (sf0.1, where they were found).
EXCLUDED = {
    "containment_join": "op about 48 s at sf0.1",
    "setsim_join": "op about 10 s at sf0.1",
    "dedup_agreement": "op about 7 s at sf0.1",
    "dedup_incremental": "op about 7 s at sf0.1, 5 s of it eager plan build",
    "pagerank_knn": "op 6.5 s; oracle 6.5 s",
    "decontamination": "op 4.0 s",
    "triangle_count": "op 3.1 s",
    "quantile_normalization": "op 2.7 s",
    "ann_recall_report": "op 2.6 s",
    "winnow_dedup": "op 2.5 s; oracle 63 s",
    "semantic_dedup": "op 2.5 s",
    "apriori_triples": "op 2.4 s",
    "embedding_pc1": "op 2.4 s; oracle 13 s",
    "ngram_dup_spans": "op 2.2 s",
    "kmeans_centroids": "op 2.0 s",
    "greedy_coverage": "op 2.0 s; oracle 159 s",
    "minhash_lsh_pairs": "oracle 36 s",
    "leakage_audit": "oracle 29 s",
    "minhash_jaccard_estimate": "oracle 15 s",
    "winnow_profile": "oracle 6.9 s",
    "graph_bfs": "oracle 6.2 s",
    "dedup_clusters": "oracle over 5 minutes",
}


def panel(queries: dict, k: int) -> list[str]:
    """``k`` entries, stratified over the plans modules: modules in a
    fixed shuffled order take turns giving one entry each."""
    rng = random.Random(PANEL_SEED)
    by_module: dict[str, list[str]] = {}
    for name in sorted(queries):
        if name not in EXCLUDED:
            by_module.setdefault(queries[name].__module__, []).append(name)
    pools = [by_module[m] for m in sorted(by_module)]
    rng.shuffle(pools)
    for p in pools:
        rng.shuffle(p)
    out: list[str] = []
    while len(out) < k and any(pools):
        for p in pools:
            if p and len(out) < k:
                out.append(p.pop())
    return out


class Registry:
    def __init__(self, rng: np.random.Generator, work: str, tiny: bool, k: int):
        from gtfs_realtime_etl_spark.plans.queries import QUERIES

        self.queries = QUERIES
        self.data = os.path.join(work, "data")
        self.sf = SF / 10 if tiny else SF
        gen.registry_tables(rng, self.data, self.sf)
        self.names = panel(QUERIES, k)

    def check(self, spark) -> list[str]:
        """Every panel entry against its DuckDB oracle; returns failures."""
        from gtfs_realtime_etl_spark.testing import compare_to_oracle

        bad = []
        for name in self.names:
            try:
                res = compare_to_oracle(spark, name, self.data)
            except Exception as exc:  # noqa: BLE001 - a failed entry fails the gate
                bad.append(f"{name}: {type(exc).__name__}")
                continue
            if not res.ok:
                bad.append(f"{name}: {'; '.join(res.notes[:2])}")
        return bad

    def run(self, spark, name: str, tracer: Tracer, op: int) -> None:
        """One op: build the entry's plan and write its result to the sink."""
        with tracer.span("plans", op=op):
            df = self.queries[name](spark, self.data)
        with tracer.span("spark", op=op):
            df.write.format("noop").mode("overwrite").save()

    def trace(self, spark, name: str, i: int, ms: float, tracer: Tracer, add) -> None:
        """Per-layer readings of one traced op; compile is timed on a
        fresh build in a separate pass."""
        (build,) = [(s.end - s.start) * 1e3 for s in tracer.spans if s.op == i and s.name == "plans"]
        add("plans.build_ms", build)
        add("plans.execute_ms", ms - build)
        qe = self.queries[name](spark, self.data)._jdf.queryExecution()
        t = time.perf_counter()
        qe.executedPlan()
        add("plans.compile_ms", (time.perf_counter() - t) * 1e3)
