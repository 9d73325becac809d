"""frame-live: a live event feed at a fixed rate (open loop).

A generator thread writes one small parquet file of seeded events per
tick, on a schedule that does not slow when Spark slows. Three
streaming queries read the file stream: `frame_pipeline` fanned out by
`start_fanout` (frames to parquet and a BoundedMemorySink, errors to
parquet) and `asof_join_stream` into a parquet sink. A consumer thread
reads the memory sink at a fixed rate while batches are appended.
Latency-bound: per-batch overhead, state commits and sinks.
"""

from __future__ import annotations

import os
import random
import threading
import time

import common
import gen

from pyspark.sql import functions as F

from awskinesisconsumer_spark.operators.asof_join import asof_join_next_boundary
from awskinesisconsumer_spark.streaming.pipeline import asof_join_stream, frame_pipeline
from awskinesisconsumer_spark.streaming.sinks import BoundedMemorySink, start_fanout

# Two state partitions for each of the three stateful queries, chosen by
# measurement on 4 cores: with the session's 32 a micro-batch took 6-14 s,
# so a run held only one or two batches and the latency percentiles
# jumped between modes from seed to seed; with 4, batches of 2-3 s still
# spread p50 by 0.35 over five seeds; with 2, batches take 1-1.5 s.
CONF = {"spark.sql.shuffle.partitions": "2"}
PARAMS = gen.LIVE_PARAMS
EVENT_SCHEMA = "event_id bigint, user_id bigint, event_type string, value double, ts timestamp"
BUCKET_S = 600          # throttle_stream's default span
MAX_LATE_S = 0.5        # generator lateness beyond this makes the run invalid
IDLE_S = 0.5            # no query ran a batch this long: start the schedule


class TimedSink(BoundedMemorySink):
    """BoundedMemorySink with the benchmark's timer around each append."""

    def __init__(self, k: int):
        super().__init__(k)
        self.append_s: list[float] = []

    def append_batch(self, rows: list) -> None:
        t = time.perf_counter()
        super().append_batch(rows)
        self.append_s.append(time.perf_counter() - t)


def _consumer(sink: BoundedMemorySink, hz: float, seed: int, stop: threading.Event,
              out: list[float], errors: list[str]) -> None:
    """Look up the sink at `hz`; a lookup that raises is counted in
    `errors` (a failed operation) and the consumer goes on."""
    rng = random.Random(seed)
    period = 1.0 / hz
    due = time.perf_counter()
    while not stop.is_set():
        t = time.perf_counter()
        try:
            if rng.random() < 0.5:
                sink.last()
            else:
                n = len(sink)
                sink.get(rng.randrange(n) if n else 0)
        except Exception as e:  # noqa: BLE001 - any failure is reported
            errors.append(repr(e))
        else:
            out.append(time.perf_counter() - t)
        due += period
        delay = due - time.perf_counter()
        if delay > 0:
            stop.wait(delay)


def _generator(ticks, in_dir: str, t_start: float, tick_s: float, sent: list) -> None:
    for k, table in ticks:
        due = t_start + (k - 1) * tick_s
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        gen.write_atomic(table, os.path.join(in_dir, f"tick-{k:06d}.parquet"))
        sent.append((k, due, time.time()))


def _mtime_rows(spark, path: str, *cols):
    return (spark.read.parquet(path)
            .select(*cols, F.unix_micros(F.col("_metadata.file_modification_time"))
                    .alias("_mtime_us"))
            .collect())


def run(ctx) -> dict:
    spark, spans, p = ctx.spark, ctx.spans, PARAMS
    tick_s, per_tick = p["tick_s"], p["events_per_tick"]
    n_ticks = int(round(ctx.seconds / tick_s))   # the schedule lasts --seconds
    root = os.path.join(ctx.work, "live")
    in_dir, out_dir, ckpt = (os.path.join(root, d) for d in ("in", "out", "ckpt"))
    os.makedirs(in_dir)

    source = gen.EventSource(ctx.seed)
    tables = [source.tick(k) for k in range(n_ticks + 1)]
    # tick 0 warms the three queries up before the clock starts
    gen.write_atomic(tables[0], os.path.join(in_dir, "tick-000000.parquet"))

    events = spark.readStream.schema(EVENT_SCHEMA).parquet(in_dir)
    sink = TimedSink(p["memory_sink_k"])
    with spans.span("streaming.pipeline.start"):
        frames, errors = frame_pipeline(events)
        fq, eq = start_fanout(frames, errors, out_dir=out_dir, checkpoint_dir=ckpt,
                              memory_sink=sink, trigger_available_now=False,
                              partition_col=None)
        aq = (asof_join_stream(events).writeStream.format("parquet")
              .option("path", os.path.join(out_dir, "asof"))
              .option("checkpointLocation", os.path.join(ckpt, "asof"))
              .outputMode("append").start())
    queries = {"frames": fq, "errors": eq, "asof": aq}
    ckpts = {name: os.path.join(ckpt, name) for name in queries}

    def consumed(name: str) -> int:
        return sum(common.committed_source_files(ckpts[name]).values())

    # Warm up on tick 0, then start the schedule from idle: once every
    # query has committed tick 0 and none has run a batch (the no-data
    # batch the watermark advance triggers included) for IDLE_S. No run
    # times the cold first batch.
    def busy(q) -> bool:
        return (not q.recentProgress
                or q.status["message"].startswith(("Processing", "No new data")))

    with spans.span("streaming.pipeline.warmup"):
        deadline = time.time() + 120
        idle_since = None
        while idle_since is None or time.time() - idle_since < IDLE_S:
            if time.time() > deadline or not all(q.isActive for q in queries.values()):
                raise RuntimeError("live queries did not start")
            idle = min(consumed(n) for n in queries) >= 1 and not any(
                busy(q) for q in queries.values())
            idle_since = (idle_since or time.time()) if idle else None
            time.sleep(0.05)

    stop = threading.Event()
    lookups: list[float] = []
    lookup_errors: list[str] = []
    consumer = threading.Thread(target=_consumer, daemon=True,
                                args=(sink, p["lookup_hz"], ctx.seed, stop, lookups,
                                      lookup_errors))
    sent: list[tuple[int, float, float]] = []
    t_start = time.time() + 0.2
    generator = threading.Thread(target=_generator, daemon=True,
                                 args=(list(enumerate(tables))[1:], in_dir, t_start,
                                       tick_s, sent))
    backlog: list[tuple[float, int]] = []
    with spans.span("streaming.pipeline.live"):
        generator.start()
        consumer.start()
        # sample the unread backlog until every query has committed every file
        deadline = t_start + ctx.seconds + 90
        while True:
            written = 1 + len(sent)
            lag = written - min(consumed(n) for n in queries)
            backlog.append((time.time(), lag))
            if not generator.is_alive() and lag == 0:
                break
            if time.time() > deadline or not all(q.isActive for q in queries.values()):
                break
            time.sleep(tick_s / 2)
        stop.set()
        generator.join(timeout=10)
        consumer.join(timeout=10)
        progress = {}
        for name, q in queries.items():
            q.stop()
            progress[name] = common.progress_dicts(q)
            if q.exception() is not None:
                raise RuntimeError(f"{name} query failed: {q.exception()}")

    with spans.span("check.read_output"):
        all_events = spark.read.parquet(in_dir)
        ev_rows = all_events.select("event_id", "user_id", "event_type", "value",
                                    F.unix_micros("ts").alias("ts_us")).collect()
        frame_rows = _mtime_rows(spark, os.path.join(out_dir, "frames"),
                                 "event_id", "user_id", "event_type",
                                 F.unix_micros("ts").alias("ts_us"))
        error_rows = spark.read.parquet(os.path.join(out_dir, "errors")).select(
            "event_id").collect()
        asof_rows = _mtime_rows(spark, os.path.join(out_dir, "asof"),
                                "user_id", "event_id", "value", "tag_event_id")
        want_asof = (asof_join_next_boundary(
            all_events, key="user_id", order="event_id",
            is_boundary=F.col("event_type") == "signup", boundary_cols=[])
            .where(F.col("tag_event_id").isNotNull())
            .select("user_id", "event_id", "value", "tag_event_id").collect())

    # --- output checks
    by_id = {r[0]: r for r in ev_rows}
    want_keys = {(r[1], r[4] // 1_000_000 // BUCKET_S) for r in ev_rows if r[2] != "error"}
    got_keys: dict[tuple, int] = {}
    bad_frames = 0
    for r in frame_rows:
        key = (r[1], r[3] // 1_000_000 // BUCKET_S)
        got_keys[key] = got_keys.get(key, 0) + 1
        src = by_id.get(r[0])
        if r[2] == "error" or src is None or (src[1], src[4]) != (r[1], r[3]):
            bad_frames += 1
    want_errors = sorted(r[0] for r in ev_rows if r[2] == "error")
    got_errors = sorted(r[0] for r in error_rows)
    want_asof_set = sorted(tuple(r) for r in want_asof)
    got_asof = sorted(tuple(r[:4]) for r in asof_rows)
    newest = sorted((r[0] for r in frame_rows), reverse=True)[: sink.k]
    memory_ids = [sink.get(i)["event_id"] for i in range(len(sink))]

    late = max((actual - due for _, due, actual in sent), default=0.0)
    # Without a file cap every micro-batch takes all unread files, so a
    # backlog of up to two batch periods of the slowest query is steady
    # micro-batching; more means the engine fell behind the schedule.
    gen_end = t_start + n_ticks * tick_s
    backlog_end = next((b for t, b in backlog if t >= gen_end), backlog[-1][1])
    fp = [pr for pr in progress["frames"] if pr["numInputRows"] > 0]
    batch_s = max(common.median([pr["durationMs"]["triggerExecution"] / 1e3
                                 for pr in ps if pr["numInputRows"] > 0])
                  for ps in progress.values())
    growing = backlog_end > (2 * batch_s + 1.0) / tick_s
    found_keys = sum(1 for k in want_keys if got_keys.get(k) == 1)
    found_asof = len(set(want_asof_set) & set(got_asof))
    n_want = len(want_keys) + len(want_errors) + len(want_asof_set)
    found_errors = len(set(want_errors) & set(got_errors))
    dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                  for ps in progress.values() for op in common.state_ops(ps))
    checks = [
        ("frame sink: one row per (user, 10-min bucket), no errors",
         found_keys == len(want_keys) == len(frame_rows) and bad_frames == 0,
         f"{found_keys}/{len(want_keys)} keys, {len(frame_rows)} rows, {bad_frames} bad"),
        ("error sink holds exactly the error events", got_errors == want_errors,
         f"{len(got_errors)} rows, {len(want_errors)} expected"),
        ("as-of sink equals asof_join_next_boundary", got_asof == want_asof_set,
         f"{len(got_asof)} rows, {len(want_asof_set)} expected"),
        ("memory sink holds the newest K frame ids", memory_ids == sorted(newest),
         f"{len(memory_ids)} ids"),
        ("no rows dropped by the watermark", dropped == 0, f"{dropped} dropped"),
        ("open loop held: generator on time, backlog not growing",
         late <= MAX_LATE_S and not growing and len(sent) == n_ticks,
         f"late {late:.3f} s, backlog at schedule end {backlog_end} files, "
         f"slowest query's batch p50 {batch_s:.2f} s"),
    ]

    # --- metrics: latency from each event's scheduled send time
    def send_s(event_id: int) -> float:
        return t_start + (event_id // per_tick - 1) * tick_s

    measured_frames = [r for r in frame_rows if r[0] >= per_tick]
    latencies = [r[4] / 1e6 - send_s(r[0]) for r in measured_frames]
    tag_lat = [r[4] / 1e6 - send_s(r[3]) for r in asof_rows if r[3] >= per_tick]
    last_out = max(r[-1] for r in measured_frames + asof_rows) / 1e6
    n_measured = n_ticks * per_tick
    asof_ops = common.state_ops(progress["asof"])
    thr_ops = common.state_ops(progress["frames"])
    n_files, n_bytes = 0, 0
    for d in ("frames", "errors", "asof"):
        f, b = common.dir_files(os.path.join(out_dir, d))
        n_files, n_bytes = n_files + f, n_bytes + b
    layers = {
        **common.engine_metrics(fp),
        "engine.input_lag_files_max": float(max(b for _, b in backlog)),
        "generator.late_s": late,
        "generator.backlog_end_files": float(backlog_end),
        "streaming.pipeline.asof_state_rows_max": float(
            max((op["numRowsTotal"] for op in asof_ops), default=0)),
        "streaming.pipeline.asof_state_bytes_max": float(
            max((op["memoryUsedBytes"] for op in asof_ops), default=0)),
        "streaming.pipeline.asof_state_commit_ms_p50": common.median(
            [op["commitTimeMs"] for op in asof_ops]),
        "streaming.pipeline.throttle_state_rows_max": float(
            max((op["numRowsTotal"] for op in thr_ops), default=0)),
        "streaming.pipeline.watermark_dropped_rows": float(dropped),
        "streaming.pipeline.frames_per_event": len(frame_rows) / len(ev_rows),
        "streaming.pipeline.errors_routed": float(len(got_errors)),
        "streaming.pipeline.tag_latency_p50_s": common.median(tag_lat),
        "streaming.sinks.fanout_batch_s_p50": common.median(
            [pr["durationMs"].get("addBatch", 0) / 1e3 for pr in fp]),
        "streaming.sinks.files_written": float(n_files),
        "streaming.sinks.bytes_written": float(n_bytes),
        "streaming.sinks.memory_sink.append_us_p50": common.median(sink.append_s) * 1e6,
        "streaming.sinks.memory_sink.lookup_us_p50": common.median(lookups) * 1e6,
        "streaming.sinks.memory_sink.lookup_us_p99": common.tail(lookups)[1] * 1e6,
        "streaming.sinks.memory_sink.lookups": float(len(lookups)),
    }
    attempted = sum(len([pr for pr in ps if pr["numInputRows"] > 0]) for ps in progress.values())
    return {
        "throughput": n_measured / (last_out - t_start),
        "latencies": latencies,
        "recall": (found_keys + found_errors + found_asof) / n_want,
        "checks": checks,
        "attempted": attempted + len(lookups) + len(lookup_errors),
        "failed": len(lookup_errors),
        "layers": layers,
        "work": {"batches_s": {
                     name: [(round(common.progress_end_s(pr) - t_start
                                   - pr["durationMs"]["triggerExecution"] / 1e3, 2),
                             round(common.progress_end_s(pr) - t_start, 2), pr["numInputRows"])
                            for pr in ps]
                     for name, ps in progress.items()},
                 "events": len(ev_rows), "ticks": n_ticks, "frames": len(frame_rows),
                 "asof_rows": len(asof_rows), "errors": len(got_errors),
                 "tag_latency_p50_s": round(common.median(tag_lat), 4),
                 "generator_late_s": round(late, 4)},
    }
