"""Workload ``ingest_live``: the reference's poll -> decode -> enrich ->
lake loop at its real per-tick size, as a closed loop with one client.

Set-up starts one long-running file stream (``trigger_seconds=0``).  An
op lands one tick: a FeedMessage of the whole fleet is renamed into the
feed directory and the op ends when ``processAllAvailable()`` returns.
Event time advances 30 s per tick and a share of vehicles repeat their
previous timestamp, so the dedup state drops rows every tick.
"""

from __future__ import annotations

import os
import time
import zoneinfo
from datetime import datetime

import numpy as np

from perfbench import gen
from perfbench.harness import Result, SparkLedger, Tracer, dir_stats, median_or_zero, settled

VEHICLES = 2000
NOMINAL_OP_S = 2.4  # one tick on a 4-core host; sets the op count
#: The dedup watermark is 10 minutes = 20 ticks; landing that many ticks
#: as one backlog batch fills the dedup state to its steady size.
BACKLOG_TICKS = 20
MIN_WARM_TICKS, MAX_WARM_TICKS = 3, 8

STREAM_PHASES = {
    "stream.trigger_ms": "triggerExecution",
    "stream.add_batch_ms": "addBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.latest_offset_ms": "latestOffset",
}


class _Feed:
    """Lands ticks into the stream's feed directory, one atomic rename each."""

    def __init__(self, ticks, work):
        self.query, self.ticks, self.next = None, ticks, 0
        self.stage = os.path.join(work, "stage")
        self.feed = os.path.join(work, "feed")
        os.makedirs(self.stage, exist_ok=True)
        os.makedirs(self.feed, exist_ok=True)
        self.last_batch = -1

    def put(self, n: int) -> None:
        for i in range(self.next, self.next + n):
            tmp = os.path.join(self.stage, f"tick-{i:05d}.pb")
            with open(tmp, "wb") as f:
                f.write(self.ticks[i].payload)
            os.rename(tmp, os.path.join(self.feed, f"tick-{i:05d}.pb"))
        self.next += n

    def new_progress(self) -> list:
        out = [p for p in self.query.recentProgress if p.batchId > self.last_batch]
        if out:
            self.last_batch = max(p.batchId for p in out)
        return out


def _state(progress: list) -> tuple[float, float, float]:
    """(rows total, memory bytes, rows updated) of the dedup state after
    the last batch, with rows updated summed over the batches."""
    rows = mem = updated = 0.0
    for p in progress:
        if p.stateOperators:
            dedup = p.stateOperators[0]
            rows = float(dedup.numRowsTotal)
            mem = float(dedup.memoryUsedBytes)
            updated += float(dedup.numRowsUpdated)
    return rows, mem, updated


def run(
    spark, work: str, seed: int, n_ops: int, tracer: Tracer, host: dict, tiny: bool = False
) -> Result:
    from gtfs_realtime_etl_spark.streaming import ingest as stream_ingest

    vehicles, backlog = (50, 2) if tiny else (VEHICLES, BACKLOG_TICKS)
    rng = np.random.default_rng(seed)
    day = gen.seeded_day(rng)
    # Local midnight falls inside the backlog, so the lake holds two day
    # partitions and the timed ticks all land in the second.
    t0 = gen._local_epoch(day, 86400 - backlog // 2 * gen.TICK_S)
    n_windows = 2 if tracer.enabled else 1
    total = backlog + MAX_WARM_TICKS + n_ops * n_windows
    ticks = gen.feed_ticks(rng, total, vehicles, t0)
    lake = os.path.join(work, "lake")
    ckpt = os.path.join(work, "ckpt")

    feed = _Feed(ticks, work)
    t_setup = time.perf_counter()
    query = feed.query = stream_ingest.start_feed_file_stream(
        spark, feed.feed, lake, ckpt, trigger_seconds=0
    )
    t_start = time.perf_counter() - t_setup
    failed = attempted = 0
    try:
        warm_ms = []
        t = time.perf_counter()
        feed.put(backlog)
        query.processAllAvailable()
        warm_ms.append((time.perf_counter() - t) * 1e3)
        levels = [_state(feed.new_progress())[0]]
        for _ in range(MAX_WARM_TICKS):
            t = time.perf_counter()
            feed.put(1)
            query.processAllAvailable()
            warm_ms.append((time.perf_counter() - t) * 1e3)
            levels.append(_state(feed.new_progress())[0])
            level = abs(levels[-1] - levels[-2]) <= 0.05 * levels[-2]
            if level and settled(warm_ms[1:], MIN_WARM_TICKS):
                break
        setup_s = time.perf_counter() - t_setup

        windows = []
        for w in range(n_windows):
            traced = tracer.enabled and w == n_windows - 1
            win = _window(spark, feed, n_ops, lake, tracer if traced else None, host, stream_ingest)
            attempted += win["attempted"]
            failed += win["failed"]
            windows.append(win)
        sent = set().union(*(t.pairs for t in ticks[: feed.next]))
        correct = failed == 0 and _lake_matches(spark, lake, sent)
    finally:
        query.stop()

    win = windows[0]
    result = Result(
        correct=correct,
        attempted=attempted,
        failed=failed,
        setup_s=setup_s,
        work_s=sum(win["op_ms"]) / 1e3,
        op_ms=win["op_ms"],
        rows=win["rows"],
        details={
            "warm_state_rows": levels,
            "warm_ms": warm_ms,
            "stream_start_s": t_start,
            "ticks_landed": feed.next,
            "vehicles_per_tick": vehicles,
        },
    )
    if tracer.enabled:
        traced = windows[-1]
        result.layers = traced["layers"]
        result.layers["trace.overhead_s"] = (sum(traced["op_ms"]) - sum(win["op_ms"])) / 1e3
    return result


def _window(spark, feed: _Feed, n_ops: int, lake: str, tracer, host, stream_ingest) -> dict:
    """Land ``n_ops`` ticks one at a time.  With a tracer, also wrap the
    lake append, read the status store and the stream's progress after
    each tick, and time the decode and enrich prefixes as batch twins."""
    op_ms, rows, failed = [], 0, 0
    per: dict[str, list[float]] = {}
    ledger = SparkLedger(spark) if tracer else None
    patched = None
    if tracer:
        patched = stream_ingest.write_locations_batch

        def traced_write(*a, **kw):
            with tracer.span("sources.lake", op=feed.next - 1):
                return patched(*a, **kw)

        stream_ingest.write_locations_batch = traced_write
    try:
        for _ in range(n_ops):
            i = feed.next
            before = dir_stats(lake) if tracer else None
            if ledger:
                ledger.mark()
            t = time.perf_counter()
            try:
                if tracer:
                    with tracer.span("streaming.ingest", op=i):
                        feed.put(1)
                        feed.query.processAllAvailable()
                else:
                    feed.put(1)
                    feed.query.processAllAvailable()
            except Exception:  # noqa: BLE001 - a failed tick is counted, not fatal
                failed += 1
                continue
            ms = (time.perf_counter() - t) * 1e3
            op_ms.append(ms)
            progress = feed.new_progress()
            kept = _state(progress)[2]
            rows += int(kept)
            if tracer:
                _trace_tick(spark, feed, i, ms, progress, kept, before, lake, ledger, tracer, host, per)
    finally:
        if patched is not None:
            stream_ingest.write_locations_batch = patched
    layers = {k: median_or_zero(v) for k, v in per.items()}
    return {"op_ms": op_ms, "rows": rows, "failed": failed, "attempted": n_ops, "layers": layers}


def _trace_tick(spark, feed, i, ms, progress, kept, before, lake, ledger, tracer, host, per):
    def add(k, v):
        per.setdefault(k, []).append(float(v))

    spark_m = ledger.read()
    for k, v in spark_m.items():
        add(f"spark.{k}", v)
    add("spark.driver_overhead_ms", ms - spark_m["executor_run_ms"] / host["local_n"])
    add("stream.batches_per_tick", len(progress))
    for name, phase in STREAM_PHASES.items():
        add(name, sum(p.durationMs.get(phase, 0) for p in progress))
    add("stream.wait_ms", ms - per["stream.trigger_ms"][-1])
    state_rows, state_mem, _ = _state(progress)
    add("stream.state_rows", state_rows)
    add("stream.state_memory_bytes", state_mem)
    add("stream.dedup_kept_ratio", kept / feed.ticks[i].n_vehicles)
    after = dir_stats(lake)
    add("lake.files_per_tick", after[0] - before[0])
    add("lake.bytes_per_row", (after[1] - before[1]) / max(kept, 1))
    write_ms = sum(
        (s.end - s.start) * 1e3 for s in tracer.spans if s.op == i and s.name == "sources.lake"
    )
    add("lake.write_ms", write_ms)
    _batch_twins(spark, os.path.join(feed.feed, f"tick-{i:05d}.pb"), i, tracer, add)
    ledger.mark()


def _batch_twins(spark, path: str, i: int, tracer: Tracer, add) -> None:
    """Decode, then decode + enrich, of one tick's payload as batch jobs
    to the noop sink: their difference is the enrich layer's share."""
    from pyspark.sql import functions as F

    from gtfs_realtime_etl_spark.operators.ingest import enrich_positions
    from gtfs_realtime_etl_spark.sources.gtfs_rt import decode_feed_frames

    frames = spark.read.format("binaryFile").load(path).select(F.col("content").alias("payload"))
    t = time.perf_counter()
    with tracer.span("sources.gtfs_rt", op=i):
        decode_feed_frames(frames).write.format("noop").mode("overwrite").save()
    decode_ms = (time.perf_counter() - t) * 1e3
    t = time.perf_counter()
    with tracer.span("operators.ingest", op=i):
        enrich_positions(decode_feed_frames(frames)).write.format("noop").mode("overwrite").save()
    add("gtfs_rt.decode_ms", decode_ms)
    add("ingest.enrich_ms", (time.perf_counter() - t) * 1e3 - decode_ms)
    add("gtfs_rt.rows_decoded", decode_feed_frames(frames).count())


def _lake_matches(spark, lake: str, sent: set[tuple[str, int]]) -> bool:
    """Landed rows are exactly the distinct (vehicle_id, timestamp) pairs
    sent, each row sits in the partition of its local event day, and the
    rows span the two days either side of local midnight."""
    from pyspark.sql import functions as F

    from gtfs_realtime_etl_spark.sources.lake import read_locations

    pdf = (
        read_locations(spark, lake)
        .select("vehicle_id", F.unix_timestamp("timestamp").alias("ts"), "year", "month", "day")
        .toPandas()
    )
    pairs = list(zip(pdf["vehicle_id"], pdf["ts"].astype(int)))
    if len(pairs) != len(sent) or set(pairs) != sent:
        return False
    tz = zoneinfo.ZoneInfo(gen.TZ)
    for ts, y, m, d in set(zip(pdf["ts"], pdf["year"], pdf["month"], pdf["day"])):
        local = datetime.fromtimestamp(int(ts), tz)
        if (local.year, local.month, local.day) != (y, m, d):
            return False
    return len(set(zip(pdf["year"], pdf["month"], pdf["day"]))) == 2
