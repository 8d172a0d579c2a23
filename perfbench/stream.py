"""``stream_ingest``: the 100K sf0.1 ``events`` replayed as time-ordered
JSON drops through ``streaming.ingest.daily_rollup_stream`` and
``start_ingestion`` (AvailableNow, one drop per micro-batch), whose sink
is the ``plans.merge`` parquet swap.

Mapped as FIXTURES.md maps them: ``event_type`` stands in for sport and
``value`` for minutes streamed. The seed picks a share of rows delivered
one drop late (inside the 2-day watermark) and a few rows planted in a
drop more than the watermark after their event time; Spark must drop
exactly those. Fixed per-batch costs dominate this workload.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from pathlib import Path

import numpy as np
import pandas as pd

from .common import geomean, median, percentile

EVENTS = Path(__file__).resolve().parent / "data" / "sf0.1" / "events.parquet"
SIZES = {
    # days of events used (None: all 30), row stride, drops, rows planted
    # beyond the watermark. Each micro-batch costs seconds of mostly fixed
    # work, so the drop count sets the run time: 3 is the fewest that can
    # hold a row beyond the watermark
    "full": (None, 1, 3, 20),
    "smoke": (8, 4, 6, 2),
}
OUT_OF_ORDER = 0.03
HLL_RSD = 0.05  # approx_count_distinct's default relative standard deviation
# Spark 4.1 counts each row it drops as late twice in the aggregation's
# numRowsDroppedByWatermark (measured: 3 late rows with distinct keys in
# one micro-batch report 6), so the check expects twice the planted count.
DROP_REPORTS_PER_LATE_ROW = 2
PHASES = {"addBatch": "add_batch", "queryPlanning": "query_planning",
          "walCommit": "wal_commit", "commitOffsets": "commit_offsets",
          "latestOffset": "latest_offset"}


def make_drops(events: pd.DataFrame, n_drops: int, n_late: int, seed: int):
    """Split time-ordered events into drops. Returns the drop index of
    each row, the mask of rows planted beyond the watermark, and the
    number of rows delivered one drop late."""
    rng = np.random.default_rng(seed)
    n = len(events)
    drop = np.arange(n) * n_drops // n
    ts = events["ts"].to_numpy()
    first_ts = np.array([ts[drop == d].min() for d in range(n_drops)])
    day = events["ts"].dt.floor("D").to_numpy()
    sport = events["sport"].to_numpy()
    late = np.zeros(n, dtype=bool)
    taken: set = set()
    # a planted row's day window closes 3+ days before the late-event
    # watermark of the batch it arrives in (the watermark the previous
    # batch ran with): its event time is at least 4 days before the first
    # event of the previous drop
    horizon = np.timedelta64(4, "D")
    targets = [d for d in range(1, n_drops) if (ts <= first_ts[d - 1] - horizon).any()]
    while late.sum() < n_late:
        d = int(rng.choice(targets))
        pool = np.flatnonzero((ts <= first_ts[d - 1] - horizon) & ~late)
        i = int(rng.choice(pool))
        key = (d, day[i], sport[i])  # one planted row per (drop, day, sport)
        if key in taken:
            continue
        taken.add(key)
        late[i] = True
        drop[i] = d
    delay = (~late) & (drop < n_drops - 1) & (rng.random(n) < OUT_OF_ORDER)
    drop[delay] += 1
    return drop, late, int(delay.sum())


def expected_fact(delivered: pd.DataFrame) -> dict:
    g = delivered.groupby([delivered["ts"].dt.date, "sport"])
    agg = g.agg(n=("user_id", "size"), users=("user_id", "nunique"),
                minutes=("minutes_streamed", "sum"), done=("completed", "sum"))
    return {k: tuple(int(x) for x in r) for k, r in zip(agg.index, agg.itertuples(index=False))}


def _fact_ok(rows: list, expected: dict) -> bool:
    got = {(r["day"], r["sport"]): r for r in rows}
    if set(got) != set(expected):
        return False
    for key, (n, users, minutes, done) in expected.items():
        r = got[key]
        if (r["transaction_count"], r["total_minutes_streamed"], r["completed_streams"]) != (n, minutes, done):
            return False
        if abs(r["unique_user_estimate"] - users) > 3 * HLL_RSD * users:
            return False
    return True


def run(ctx) -> dict:
    from sportstv_streaming_data_warehouse_spark.streaming import ingest

    days, stride, n_drops, n_late = SIZES[ctx.size]
    tr = ctx.tracer
    in_dir = ctx.workdir / "drops"

    def prepare():
        with tr.span("setup.drops"):
            ev = pd.read_parquet(EVENTS).sort_values("event_id", kind="stable")
            if days:
                ev = ev[ev["ts"] < ev["ts"].min().floor("D") + pd.Timedelta(days=days)]
            ev = ev.iloc[::stride]
            events = pd.DataFrame({
                "ts": ev["ts"],
                "user_id": ev["user_id"].astype("int64"),
                "sport": ev["event_type"],
                "minutes_streamed": ev["value"].astype("int64"),
                "completed": (ev["value"] >= 30).astype("int64"),
            }).reset_index(drop=True)
            drop, late, delayed = make_drops(events, n_drops, n_late, ctx.seed)
            in_dir.mkdir()
            base = time.time() - n_drops - 60
            out = events.assign(ts=events["ts"].dt.strftime("%Y-%m-%dT%H:%M:%S.%f"))
            for d in range(n_drops):
                path = in_dir / f"drop_{d:03d}.json"
                out[drop == d].to_json(path, orient="records", lines=True)
                os.utime(path, (base + d, base + d))  # file source orders by mtime
            return len(events), delayed, expected_fact(events[~late])

    n_events, delayed, expected = ctx.start_session(prepare)
    spark = ctx.spark
    with tr.span("setup.stream"):
        source = (spark.readStream.schema(ingest.TXN_STREAM_SCHEMA)
                  .option("maxFilesPerTrigger", 1).json(str(in_dir)))
        rollup = ingest.daily_rollup_stream(source)
    fact_path = str(ctx.workdir / "fact")
    setup_s = ctx.setup_done()

    with tr.span("stream.query") as stream_span:
        t0 = time.perf_counter()
        query = ingest.start_ingestion(rollup, fact_path, str(ctx.workdir / "checkpoint"))
        try:
            query.awaitTermination()
            error = None
        except Exception as exc:  # counted as failed drops below
            error = exc
        wall = time.perf_counter() - t0
    progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    batch_ms = [p["durationMs"]["triggerExecution"] for p in progress]
    for d in range(n_drops):
        ctx.ops.record(d < len(progress), f"drop {d} not ingested: {error}")
    dropped = sum(s.get("numRowsDroppedByWatermark", 0)
                  for p in progress for s in p["stateOperators"])
    ctx.ops.record(dropped == DROP_REPORTS_PER_LATE_ROW * n_late,
                   f"numRowsDroppedByWatermark {dropped}, planted {n_late}")
    rows = spark.read.parquet(fact_path).collect() if error is None else []
    ctx.ops.record(error is None and _fact_ok(rows, expected),
                   "final fact differs from the batch rollup of the delivered rows")
    if not batch_ms:
        raise RuntimeError(f"stream_ingest ran no micro-batch: {error}")

    ctx.record.update({
        "sf": 0.1 if ctx.size == "full" else None, "input_rows": n_events,
        "drops": n_drops, "late_planted": n_late,
        "out_of_order_rows": delayed,
        "ingest_rows_per_s": n_events / wall,
        "batch_p50_ms": median(batch_ms),
        "batch_p75_ms": percentile(batch_ms, 75),
    })
    if ctx.traced:
        _layers(ctx, stream_span, progress, len(rows))
    return {
        "setup_s": setup_s,
        "pass_s": wall,
        "op_geomean_ms": geomean(batch_ms),
    }


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _layers(ctx, stream_span, progress, fact_rows) -> None:
    tr, L = ctx.tracer, ctx.layers
    # micro-batch spans rebuilt from their progress records; each SQL
    # execution moves under the batch it started in
    batches = []
    for p in progress:
        start = _epoch(p["timestamp"])
        batches.append(tr.add("stream.batch", start, start + p["durationMs"]["triggerExecution"] / 1000,
                              stream_span.span_id, batch_id=p["batchId"],
                              phases=dict(p["durationMs"])))
    writes_ms, files, written = [], 0.0, 0.0
    for sp in tr.spans:
        if sp.name != "sql" or sp.parent != stream_span.span_id:
            continue
        for b in batches:
            if b.start <= sp.start < b.end:
                sp.parent = b.span_id
        nodes = tr.probe.plan(sp.attrs["execution"])[0]
        cmd = [nd for nd in nodes if "InsertIntoHadoopFsRelationCommand" in nd["name"]]
        if cmd:
            writes_ms.append(1000 * (sp.end - sp.start))
            files += sum(nd["metrics"].get("number of written files", 0.0) for nd in cmd)
            written += sum(nd["metrics"].get("written output", 0.0) for nd in cmd)
    for key, name in PHASES.items():
        L[f"stream.{name}_ms_p50"] = median([p["durationMs"].get(key, 0) for p in progress])
    ops = [s for p in progress for s in p["stateOperators"]]
    L["state.rows_total"] = sum(s["numRowsTotal"] for s in progress[-1]["stateOperators"])
    L["state.memory_bytes"] = max(s["memoryUsedBytes"] for s in ops)
    L["state.commit_ms_total"] = sum(s["commitTimeMs"] for s in ops)
    L["state.store_instances"] = max(s["numStateStoreInstances"] for s in ops)
    L["state.rows_dropped_by_watermark"] = sum(s["numRowsDroppedByWatermark"] for s in ops)
    L["merge.write_ms_p50"] = median(writes_ms) if writes_ms else 0.0
    L["merge.files_written_per_batch"] = files / len(progress)
    L["merge.bytes_written_per_batch"] = written / len(progress)
    L["merge.fact_rows"] = fact_rows
    st = tr.self_times()
    L["self.stream_ms"] = 1000 * median([st[b.span_id] for b in batches])
