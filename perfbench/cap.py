"""The two CAP workloads: a closed-loop full-feed refresh (``cap_batch``)
and an open-loop feed tail (``cap_stream``)."""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import threading
import time

import gen
from common import (
    CpuClock,
    EngineCounters,
    Tracer,
    closed_loop,
    dir_output,
    percentile,
    release,
    rmtree,
)

#: Fixed clock for the batch feed so a seed always gives the same input.
BATCH_NOW = 1_790_000_000.0
BATCH_ALERTS = 2500
BATCH_FILES = 8
#: closed loop: unmeasured passes after the cold one, and a warm pass's
#: wall time on a quiet 4-core host (sets the measured pass count)
WARM_PASSES = 2
NOMINAL_PASS_S = 2.4


def _refresh(spark, feed_dir: str, out: str, now_iso: str, tr: Tracer) -> None:
    """One scheduled refresh through the fluent API."""
    from etl_capnz_spark.pipeline import Pipeline

    with tr.span("pass"):
        with tr.span("xml.call"):
            p = Pipeline.from_feed(spark, feed_dir, per_line=True)
        with tr.span("extract.call"):
            p = p.active(now_iso)
        with tr.span("features.call"):
            p = p.to_features()
        with tr.span("geojson.write"):
            p.write_ndjson(out)


def _staged(spark, feed_dir: str, out: str, now_iso: str, tr: Tracer) -> dict:
    """The same refresh with every layer's output persisted and counted
    before the next layer runs, so each layer's span holds its own
    execution time. Returns the counts taken at each boundary."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from etl_capnz_spark.operators.extract import active_filter, required_filter
    from etl_capnz_spark.operators.features import build_features
    from etl_capnz_spark.sinks.geojson import write_features
    from etl_capnz_spark.sources.xml import parse_cap_xml, with_timestamps

    lvl = StorageLevel.MEMORY_AND_DISK
    raw = spark.read.text(feed_dir).withColumnRenamed("value", "xml")
    docs_in = raw.count()
    with tr.span("staged"):
        with tr.span("xml.parse"):
            alerts = with_timestamps(parse_cap_xml(raw)).persist(lvl)
            n_alerts = alerts.count()
        with tr.span("extract.filter"):
            act = active_filter(required_filter(alerts), now_iso).persist(lvl)
            n_active = act.count()
        with tr.span("features.build"):
            feats = build_features(act).persist(lvl)
            n_feats = feats.count()
        with tr.span("geojson.write_staged"):
            write_features(feats, out)
    vertices = act.select(
        F.sum(
            F.aggregate(
                F.col("polygons"),
                F.lit(0),
                lambda acc, p: acc + F.size(F.split(F.trim(p), r"\s+")),
            )
        )
    ).first()[0]
    for df in (alerts, act, feats):
        df.unpersist()
    return {
        "docs_in": docs_in,
        "alerts_out": n_alerts,
        "active": n_active,
        "features": n_feats,
        "vertices": vertices or 0,
    }


def cap_batch(spark, work: str, seed: int, seconds: float, trace: bool, run_id: str):
    feed = gen.CapFeed(seed, BATCH_ALERTS, BATCH_NOW)
    feed_dir = os.path.join(work, "feed")
    feed.write(feed_dir, BATCH_FILES)
    now_iso = gen.iso(BATCH_NOW)
    out = os.path.join(work, "out")
    tracers = {False: Tracer(run_id, False), True: Tracer(run_id, True)}
    traced = tracers[True]
    counters = EngineCounters(spark)
    clock = CpuClock(spark)
    attempted = failed = 0
    engine: list[dict] = []
    last_out = (0, 0)

    def one(trace_pass: bool) -> tuple[float, float, float]:
        nonlocal attempted, failed, last_out
        rmtree(out)
        release(spark)
        counters.mark()
        c, j = clock.read()
        t = time.perf_counter()
        _refresh(spark, feed_dir, out, now_iso, tracers[trace_pass])
        wall = time.perf_counter() - t
        c1, j1 = clock.read()
        engine.append(counters.since_mark())
        ids, nbytes, files = dir_output(out)
        ids.sort()
        attempted += 1
        if len(ids) != len(feed.expected_ids) or gen.digest(ids) != feed.expected_digest:
            failed += 1
        last_out = (nbytes, files)
        return wall, c1 - c, j1 - j

    loop = closed_loop(one, seconds, trace, WARM_PASSES, NOMINAL_PASS_S)
    cold, walls = loop["cold"], loop["walls"]
    pass_s = statistics.median(walls)
    metrics = {
        "cold_pass_s": cold,
        "pass_exec_cpu_s": statistics.median(loop["exec_cpus"]),
        "pass_s": pass_s,
        "items_per_s": BATCH_ALERTS / pass_s,
    }
    named = {
        "batch_alerts_per_s": (BATCH_ALERTS / pass_s, "1/s", len(walls)),
        "batch_pass_s": (pass_s, "s", len(walls)),
        "batch_cold_pass_s": (cold, "s", 1),
    }
    layers = {}
    if trace:
        staged_out = os.path.join(work, "out_staged")
        counts = _staged(spark, feed_dir, staged_out, now_iso, traced)
        nbytes, files = last_out
        layers = {
            "xml.call_ms": traced.median_ms("xml.call"),
            "xml.parse_s": traced.total_self("xml.parse", "staged"),
            "xml.docs_in": counts["docs_in"],
            "xml.alerts_out": counts["alerts_out"],
            "xml.valid_ratio": counts["alerts_out"] / counts["docs_in"],
            "extract.filter_s": traced.total_self("extract.filter", "staged"),
            "extract.rows_out": counts["active"],
            "extract.keep_ratio": counts["active"] / counts["alerts_out"],
            "features.call_ms": traced.median_ms("features.call"),
            "features.build_s": traced.total_self("features.build", "staged"),
            "features.rows_out": counts["features"],
            "features.per_alert": counts["features"] / counts["active"],
            "geometry.vertices_in": counts["vertices"],
            "geojson.write_s": traced.total_self("geojson.write_staged", "staged"),
            "geojson.bytes_out": nbytes,
            "geojson.files_out": files,
            "trace.overhead_s": statistics.median(loop["traced"]) - pass_s,
        }
    info = {
        "alerts": BATCH_ALERTS,
        "expected_features": len(feed.expected_ids),
        "warmup_pass_s": loop["warmup"],
        "pass_walls_s": walls,
        "pass_cpu_s": loop["cpus"],
        "pass_exec_cpu_s": loop["exec_cpus"],
    }
    rejected = False
    if trace:
        with traced.span("stream_tail"):
            st = stream_tail(spark, work, seed)
        layers.update(st["layers"])
        named.update(st["named"])
        attempted += st["attempted"]
        failed += st["failed"]
        rejected = st["rejected"]
        info["stream"] = st["info"]
    return {
        "attempted": attempted,
        "failed": failed,
        "rejected": rejected,
        "metrics": metrics,
        "named": named,
        "layers": layers,
        "engine": engine,
        "tracer": traced,
        "info": info,
    }


# -- open-loop stream ----------------------------------------------------

TICK_S = 0.25
#: (alerts/s, seconds) rungs, lowest first so that the base rate is
#: measured before any backlog can build. A micro-batch costs ~4 s on a
#: 4-core host, so each rung spans several batches.
LADDER = ((220, 12.0), (1320, 8.0))
WARMUP_ALERTS = 200
#: p99 latency limit for a rung to count as sustained: a quarter of the
#: one-minute poll interval a scheduled feed refresh would otherwise have.
LATENCY_LIMIT_S = 15.0
#: a rung's backlog "grows" when its slope exceeds this share of its rate.
BACKLOG_SLOPE_SHARE = 0.05
#: a run whose generator landed any file more than one tick late is
#: rejected: the offered schedule was not the one measured.
MAX_GENERATOR_LAG_S = TICK_S
DRAIN_TIMEOUT_S = 30.0


class _Generator(threading.Thread):
    """Lands one file per tick on a fixed schedule, whatever the job does."""

    def __init__(self, plan: gen.StreamPlan, in_dir: str, stage_dir: str, rungs, t0: float):
        super().__init__(daemon=True)
        self.plan, self.in_dir, self.stage_dir = plan, in_dir, stage_dir
        self.rungs, self.t0 = rungs, t0
        self.landed: list[tuple[float, float, int]] = []  # (due, landed, lines)
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            k = 0
            for rate, dur in self.rungs:
                for _ in range(round(dur / TICK_S)):
                    due = self.t0 + k * TICK_S
                    lines = self.plan.tick(due, rate)
                    delay = due - time.time()
                    if delay > 0:
                        time.sleep(delay)
                    name = f"tick-{k:05d}.xml"
                    tmp = os.path.join(self.stage_dir, name)
                    with open(tmp, "w") as fh:
                        fh.write("\n".join(lines) + "\n")
                    # rename: the file source must never list a partial file
                    os.rename(tmp, os.path.join(self.in_dir, name))
                    self.landed.append((due, time.time(), len(lines)))
                    k += 1
        except Exception as e:  # re-raised by the caller after join
            self.error = e


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _end_time(p: dict) -> float:
    start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return start.timestamp() + p["durationMs"].get("triggerExecution", 0) / 1000


def _backlog(progress: list[dict], landed, warm_lines: int) -> list[tuple[float, int, int]]:
    """(batch end, lines landed but not processed, files likewise) at the
    end of every micro-batch. Files are processed whole and in landing
    order, so processed lines map back to a processed file count."""
    cum_lines = [warm_lines]
    for _, _, n in landed:
        cum_lines.append(cum_lines[-1] + n)
    out, done = [], 0
    for p in sorted(progress, key=lambda p: int(p["batchId"])):
        done += p["numInputRows"]
        end = _end_time(p)
        n_landed = 1 + sum(1 for _, at, _ in landed if at <= end)
        n_done = sum(1 for c in cum_lines if c <= done)
        out.append((end, cum_lines[n_landed - 1] - done, n_landed - n_done))
    return out


def _slope(points: list[tuple[float, float]]) -> float:
    """Least-squares slope; 0 for fewer than three points."""
    if len(points) < 3:
        return 0.0
    mx = statistics.fmean(x for x, _ in points)
    my = statistics.fmean(y for _, y in points)
    var = sum((x - mx) ** 2 for x, _ in points)
    return sum((x - mx) * (y - my) for x, y in points) / var if var else 0.0


def stream_tail(spark, work: str, seed: int) -> dict:
    """Open-loop tail of a landing directory through ``stream_features``
    and a ``foreachBatch`` NDJSON sink. Returns the stream layer metrics,
    the stream's named end-to-end figures and the exactly-once verdict."""
    from etl_capnz_spark.sinks.geojson import write_features
    from etl_capnz_spark.streaming.stream import read_xml_stream, stream_features

    in_dir = os.path.join(work, "stream_in")
    stage_dir = os.path.join(work, "stream_stage")
    out_dir = os.path.join(work, "stream_out")
    for d in (in_dir, stage_dir, out_dir):
        os.makedirs(d, exist_ok=True)
    plan = gen.StreamPlan(seed, TICK_S)
    commits: dict[int, float] = {}
    lock = threading.Lock()

    def sink(df, batch_id: int) -> None:
        write_features(df, os.path.join(out_dir, f"batch={batch_id:06d}"))
        with lock:
            commits[batch_id] = time.time()

    run_start = time.time()
    # the first micro-batch compiles the stream plan; a warm-up file pays
    # for it before the open-loop schedule starts
    warm = plan.tick(run_start, WARMUP_ALERTS / TICK_S)
    with open(os.path.join(in_dir, "warmup.xml"), "w") as fh:
        fh.write("\n".join(warm) + "\n")
    counters = EngineCounters(spark)
    feats = stream_features(read_xml_stream(spark, in_dir), now=gen.iso(run_start - 3600))
    t = time.time()
    q = (
        feats.writeStream.foreachBatch(sink)
        .trigger(processingTime=f"{int(TICK_S * 1000)} milliseconds")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .start()
    )
    try:
        while True:
            with lock:
                started = 0 in commits
            if started:
                break
            if q.exception() is not None or time.time() - t > 150:
                raise RuntimeError(f"stream did not start: {q.exception()}")
            time.sleep(0.05)
        cold = commits[0] - t
        t0 = time.time() + 0.5
        g = _Generator(plan, in_dir, stage_dir, LADDER, t0)
        g.start()
        g.join()
        if g.error is not None:
            raise g.error
        landed_lines = len(warm) + sum(n for _, _, n in g.landed)
        t = time.time()
        while sum(p["numInputRows"] for p in _progress(q)) < landed_lines:
            if q.exception() is not None or time.time() - t > DRAIN_TIMEOUT_S:
                break
            time.sleep(0.1)
        progress = _progress(q)
    finally:
        q.stop()
    engine = counters.since_mark()

    # -- exactly-once check over every micro-batch's output ---------------
    seen: dict[str, int] = {}
    first_batch: dict[str, int] = {}
    nbytes = files = 0
    for name in sorted(os.listdir(out_dir)):
        bid = int(name.split("=")[1])
        ids, b, f = dir_output(os.path.join(out_dir, name))
        nbytes += b
        files += f
        for fid in ids:
            seen[fid] = seen.get(fid, 0) + 1
            first_batch.setdefault(gen.ident_of(fid), bid)
    expected = {fid for ids in plan.expected.values() for fid in ids}
    bad = {gen.ident_of(f) for f, c in seen.items() if c > 1 or f not in expected}
    bad |= {gen.ident_of(f) for f in expected - set(seen)}
    data_batches = [p for p in progress if p["numInputRows"] > 0]
    # a wrong output fails the micro-batch that carried the alert; a
    # missing alert fails one that should have
    failed = min(len(data_batches), len({first_batch.get(i, -1) for i in bad}))

    # -- per-alert latency, due time → sink commit, per rung --------------
    lags = [at - due for due, at, _ in g.landed]
    backlog = _backlog(progress, g.landed, len(warm))
    rungs = []
    lo = t0
    for rate, dur in LADDER:
        hi = lo + dur
        mine = [i for i in first_batch if lo <= gen.due_of(i) < hi]
        lat = [commits[first_batch[i]] - gen.due_of(i) for i in mine]
        slope = _slope([(e, b) for e, b, _ in backlog if lo <= e < hi])
        last = max((commits[first_batch[i]] for i in mine), default=hi)
        p99 = percentile(lat, 99) if lat else float("inf")
        rungs.append(
            {
                "rate": rate,
                "seconds": dur,
                "alerts": len(lat),
                "p50_s": percentile(lat, 50) if lat else None,
                "p99_s": p99,
                "backlog_slope_lines_per_s": slope,
                "delivered_per_s": len(lat) / max(last - lo, dur),
                "sustained": p99 <= LATENCY_LIMIT_S
                and slope <= BACKLOG_SLOPE_SHARE * rate,
            }
        )
        lo = hi
    base = rungs[0]
    held = [r for r in rungs if r["sustained"]]
    sustained = held[-1]["rate"] if held else 0
    trig = [p["durationMs"].get("triggerExecution", 0) for p in data_batches]

    def dur_p50(key: str) -> float:
        return statistics.median(p["durationMs"].get(key, 0) for p in data_batches)

    state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    layers = {
        "stream.latency_p50_s": base["p50_s"],
        "stream.latency_p99_s": base["p99_s"],
        "stream.sustained_alerts_per_s": sustained,
        "stream.delivered_alerts_per_s": rungs[-1]["delivered_per_s"],
        "stream.cold_batch_s": cold,
        "stream.batches": len(data_batches),
        "stream.rows_per_batch_p50": statistics.median(
            p["numInputRows"] for p in data_batches
        ),
        "stream.trigger_ms_p50": statistics.median(trig),
        "stream.trigger_ms_p99": percentile(trig, 99),
        "stream.planning_ms_p50": dur_p50("queryPlanning"),
        "stream.add_batch_ms_p50": dur_p50("addBatch"),
        "stream.wal_commit_ms_p50": dur_p50("walCommit"),
        "stream.latest_offset_ms_p50": dur_p50("latestOffset"),
        "stream.commit_offsets_ms_p50": dur_p50("commitOffsets"),
        # planning + offset-log write + commit-log write, per batch
        "stream.fixed_cost_share": (
            dur_p50("queryPlanning") + dur_p50("walCommit") + dur_p50("commitOffsets")
        )
        / statistics.median(trig),
        "stream.state_rows": state[-1]["numRowsTotal"] if state else 0,
        "stream.state_bytes": state[-1]["memoryUsedBytes"] if state else 0,
        "stream.backlog_files_max": max(f for _, _, f in backlog),
        "stream.dup_dropped_ratio": 1 - len(seen) / plan.features_landed,
        "stream.generator_lag_s": max(lags),
        "stream.shuffle_write_bytes_per_batch": engine["spark.shuffle_write_bytes"]
        / max(1, len(data_batches)),
    }
    named = {
        "stream_latency_p50_s": (base["p50_s"], "s", base["alerts"]),
        "stream_latency_p99_s": (base["p99_s"], "s", base["alerts"]),
        "stream_sustained_alerts_per_s": (sustained, "1/s", len(rungs)),
    }
    return {
        "layers": layers,
        "named": named,
        "attempted": len(data_batches),
        "failed": failed,
        "rejected": max(lags) > MAX_GENERATOR_LAG_S,
        "info": {
            "rungs": rungs,
            "wrong_alerts": len(bad),
            "new_alerts": plan.new_alerts,
            "republished": plan.repeats,
            "sink_bytes": nbytes,
            "sink_files": files,
        },
    }
