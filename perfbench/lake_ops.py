"""Lake-side ops of ``query_mix``: the flagship query, the day slice and
the compaction rewrite over a seeded raw-zone lake.

Sizes come from the reference's published figures (SURVEY.md §1.3, §6),
all scaled down by one factor, :data:`SCALE`, so that the flagship join
keeps the reference's ratio of pings to scheduled stop events while one
flagship op stays near one second on a 4-core host:

* static tables: TTC's 4,316,828 stop_times / 320 = 13,490, i.e. 600
  trips of 15-30 stops (mean 22.5);
* lake day: the reference polls ~2,000 vehicles every 60 s by default,
  1,440 ticks a day; / 320 = 4.5, rounded up to 5 ticks.  Each tick is
  laid out the way ``ingest_live`` lands it: 1,800 kept rows (2,000
  vehicles less the ``gen.STALE`` share) in 4 files (its
  ``lake.files_per_tick`` on a 4-core host), so a day is 9,000 rows in
  20 files of 450 rows.

``stop_reliability`` is not part of the flagship op: it divides by the
per-stop deviation stddev, which is 0 whenever a stop's matched pings
share one deviation, and under ANSI mode (Spark 4's default) that raises
DIVIDE_BY_ZERO on realistic data.
"""

from __future__ import annotations

import os

import numpy as np

from perfbench import gen
from perfbench.harness import Tracer, dir_stats
from perfbench.oracle_sql import flagship_oracle

SCALE = 320
DAYS = 4
TTC_STOP_TIMES = 4_316_828
REF_TICKS_PER_DAY = 1_440
TICKS_PER_DAY = -(-REF_TICKS_PER_DAY // SCALE)  # 5
ROWS_PER_TICK = round(2_000 * (1 - gen.STALE))  # 1,800
FILES_PER_TICK = 4
STOPS_PER_TRIP = 22.5
STATIC = {
    "n_routes": 60,
    "n_trips": round(TTC_STOP_TIMES / SCALE / STOPS_PER_TRIP),  # 600
    "n_stops": 1500,
}
#: Spans that make up the flagship's plan build.
BUILD_SPANS = ("sources.gtfs_static", "sources.lake", "operators.schedule_deviation")


class Lake:
    def __init__(self, rng: np.random.Generator, work: str, tiny: bool):
        ticks = 1 if tiny else TICKS_PER_DAY
        self.static = gen.gtfs_static(rng, os.path.join(work, "gtfs"), **STATIC)
        first = gen.seeded_day(rng)
        self.days = [first + gen.dt.timedelta(days=i) for i in range(DAYS)]
        self.raw = os.path.join(work, "raw")
        self.compacted = os.path.join(work, "compacted")
        self.rows_of = gen.raw_lake(
            rng, self.static, self.raw, self.days, ticks * ROWS_PER_TICK, ticks * FILES_PER_TICK
        )

    def part(self, root: str, day) -> str:
        return os.path.join(root, f"year={day.year}", f"month={day.month}", f"day={day.day}")

    def flagship(self, spark, day, tracer: Tracer, op: int):
        """The flagship plan over one partition-pruned day, static tables
        loaded per query as a client would."""
        from gtfs_realtime_etl_spark.operators.schedule_deviation import schedule_deviation
        from gtfs_realtime_etl_spark.sources.gtfs_static import load_gtfs_static
        from gtfs_realtime_etl_spark.sources.lake import day_slice

        with tracer.span("sources.gtfs_static", op=op):
            tabs = load_gtfs_static(
                spark, self.static.gtfs_dir, ("routes", "trips", "stops", "stop_times")
            )
        with tracer.span("sources.lake", op=op):
            locations = day_slice(spark, self.raw, day.year, day.month, day.day)
        with tracer.span("operators.schedule_deviation", op=op):
            return schedule_deviation(
                locations, tabs["routes"], tabs["trips"], tabs["stops"], tabs["stop_times"]
            )

    def run(self, spark, kind: str, day, tracer: Tracer, op: int) -> None:
        """One op."""
        from gtfs_realtime_etl_spark.sources.lake import day_slice_arrow
        from gtfs_realtime_etl_spark.streaming.compaction import compact_partition

        if kind == "flagship":
            dev = self.flagship(spark, day, tracer, op)
            with tracer.span("spark", op=op):
                dev.write.format("noop").mode("overwrite").save()
        elif kind == "slice":
            with tracer.span("sources.lake", op=op):
                day_slice_arrow(spark, self.raw, day.year, day.month, day.day)
        else:
            with tracer.span("streaming.compaction", op=op):
                compact_partition(spark, self.raw, self.compacted, day.year, day.month, day.day)

    def trace(self, spark, kind: str, day, i: int, ms: float, tracer: Tracer, add) -> None:
        """Per-layer readings of one traced op."""
        if kind == "flagship":
            build = sum(
                (s.end - s.start) * 1e3
                for s in tracer.spans
                if s.op == i and s.name in BUILD_SPANS
            )
            add("flagship.build_ms", build)
            add("flagship.execute_ms", ms - build)
            # The lake scan's own file and byte counters, read from the
            # executed plan of a repeat of the op (the noop write's plan is
            # not reachable from Python).
            files, size = lake_scan_metrics(self.flagship(spark, day, Tracer(False), i), self.raw)
            add("lake.files_scanned", files)
            add("lake.bytes_read", size)
        elif kind == "slice":
            add("slice.ms", ms)
        else:
            add("compaction.ms", ms)
            add("compaction.files_in", dir_stats(self.part(self.raw, day))[0])
            n_out, size_out = dir_stats(self.part(self.compacted, day))
            add("compaction.files_out", n_out)
            add("compaction.bytes_written", size_out)

    def check(self, spark, day) -> bool:
        """The flagship over one day equals the reference SQL on DuckDB
        over the same raw files, and compaction keeps every row."""
        from gtfs_realtime_etl_spark.streaming.compaction import compact_partition

        got = self.flagship(spark, day, Tracer(False), -1).toPandas()
        raw_part = self.part(self.raw, day)
        exp = flagship_oracle(os.path.join(raw_part, "*.parquet"), self.static.gtfs_dir, gen.TZ)
        key = ["stop_id", "stop_lon", "stop_lat"]
        g = got.sort_values(key).reset_index(drop=True)
        e = exp.sort_values(key).reset_index(drop=True)
        if len(g) < 10 or len(g) != len(e):
            return False
        if not ((g["stop_id"] == e["stop_id"]).all() and (g["count"] == e["count"]).all()):
            return False
        if not np.allclose(g["avg_diff"], e["avg_diff"], rtol=0, atol=1e-9):
            return False
        if not (g["stddev_diff"].isna() == e["stddev_diff"].isna()).all():
            return False
        mask = e["stddev_diff"].notna()
        if not np.allclose(g["stddev_diff"][mask], e["stddev_diff"][mask], rtol=0, atol=1e-9):
            return False
        n = compact_partition(spark, self.raw, self.compacted, day.year, day.month, day.day)
        back = spark.read.parquet(self.part(self.compacted, day)).count()
        return n == back == self.rows_of[day]


def lake_scan_metrics(df, root: str) -> tuple[int, int]:
    """Run ``df`` and return (files read, bytes of files read) summed over
    the parquet scans of its executed plan whose root lies under
    ``root``; scans of other inputs (the static CSVs) are left out."""
    df.collect()
    jvm = df.sparkSession.sparkContext._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    root = os.path.abspath(root)
    files = size = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "FileSourceScanExec":
            paths = conv.asJava(node.relation().location().rootPaths())
            if any(p.toUri().getPath().startswith(root) for p in paths):
                metrics = node.metrics()
                files += int(metrics.apply("numFiles").value())
                size += int(metrics.apply("filesSize").value())
        stack.extend(conv.asJava(node.children()))
    return files, size
