"""kvs-catchup: drain a seeded backlog of MKV fragments (closed loop).

The resume-after-outage path of a KVS consumer: every fragment of the
backlog is due at once and the stream drains it as fast as it can,
`max_files_per_trigger` files per micro-batch, paused once mid-drain and
resumed from its checkpoint. Stateless and parse-bound.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

import common
import gen

from awskinesisconsumer_spark.functions.ebml_decode import parse_simple_block, read_varint
from awskinesisconsumer_spark.sources.ebml import parse_ebml_chunks, tokenize_bytes
from awskinesisconsumer_spark.streaming.kvs_pipeline import (
    INTERESTING,
    KVS_TAG_NAMES,
    demux_blocks,
    kvs_frames_with_tags,
    kvs_stream,
    pivot_tags,
)
from awskinesisconsumer_spark.streaming.lifecycle import PipelineHandle

CHUNK_SCHEMA = "chunk_id bigint, payload binary"
CONF: dict = {}  # the session defaults
PARAMS = gen.KVS_PARAMS
# Pause once batch 0 has committed. The stop lets the batch in flight
# finish, so the resumed query still has a batch left to drain.
PAUSE_AFTER_BATCH = 0


def _wait_progress(query, cond, timeout_s: float = 120.0) -> None:
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        p = query.lastProgress
        if p is not None and cond(p):
            return
        if not query.isActive:
            return
        time.sleep(0.02)
    raise TimeoutError("stream made no progress")


def run(ctx) -> dict:
    spark, spans, seed = ctx.spark, ctx.spans, ctx.seed
    p = gen.KVS_PARAMS
    cap, per_file = p["max_files_per_trigger"], p["fragments_per_file"]
    measured_batches = max(3, round(p["measured_batches_per_s"] * ctx.seconds))
    n_files = cap * (1 + measured_batches)
    root = os.path.join(ctx.work, "kvs")
    in_dir, out_dir, ckpt = (os.path.join(root, d) for d in ("in", "out", "ckpt"))
    os.makedirs(in_dir)

    frags: list[gen.Fragment] = []
    now = time.time()
    for i, file_frags in enumerate(gen.kvs_backlog(seed, n_files)):
        path = os.path.join(in_dir, f"part-{i:05d}.parquet")
        gen.write_chunk_file(file_frags, path)
        # strictly increasing mtimes: the file source admits oldest first
        os.utime(path, (now - 1000 + i, now - 1000 + i))
        frags.extend(file_frags)

    stream = (spark.readStream.schema(CHUNK_SCHEMA)
              .option("maxFilesPerTrigger", cap).parquet(in_dir))
    handle = PipelineHandle(
        spark, lambda: kvs_stream(stream, out_path=out_dir, checkpoint=ckpt))
    with spans.span("streaming.kvs_pipeline.drain"):
        q1 = handle.start()
        _wait_progress(q1, lambda pr: pr["batchId"] >= PAUSE_AFTER_BATCH)
        with spans.span("streaming.lifecycle.pause") as sp:
            handle.pause()
        pause_s = sp.seconds
        leg1 = common.progress_dicts(q1)
        t_resume = time.time()
        with spans.span("streaming.lifecycle.resume"):
            q2 = handle.resume()
        _wait_progress(q2, lambda pr: pr["numInputRows"] > 0)
        resume_to_first = time.time() - t_resume
        q2.awaitTermination(150)
        if q2.exception() is not None:
            raise RuntimeError(f"drain failed: {q2.exception()}")
        leg2 = common.progress_dicts(q2)
        handle.dispose()

    files_per_batch = common.committed_source_files(ckpt)
    progress = [pr for pr in leg1 + leg2 if pr["numInputRows"] > 0]
    by_batch = {pr["batchId"]: pr for pr in progress}
    first = by_batch[0]
    t0 = common.progress_end_s(first)
    t_end = max(common.progress_end_s(pr) for pr in progress)
    measured = [b for b in files_per_batch if b != 0]
    measured_frags = sum(files_per_batch[b] for b in measured) * per_file
    throughput = measured_frags / (t_end - t0)
    latencies = []
    for b in (b for b in measured if b in by_batch):
        latencies += [by_batch[b]["durationMs"]["triggerExecution"] / 1e3] * (
            files_per_batch[b] * per_file)

    # --- output check: every frame exactly once, with its fragment's tags
    cols = ["chunk_id", "frame_position", "track", "timecode", "keyframe", "n_frames",
            *KVS_TAG_NAMES]
    with spans.span("check.read_output"):
        # read outside Spark: pyarrow is much faster than collect() here
        table = pq.read_table(out_dir, columns=cols)
        rows = list(zip(*(table.column(c).to_pylist() for c in cols)))
    expected = {}
    for f in frags:
        tags = tuple((f.tags or {}).get(t) for t in KVS_TAG_NAMES)
        for pos, track, timecode, keyframe, n in f.frames:
            expected[(f.chunk_id, pos)] = (track, timecode, keyframe, n, *tags)
    seen: dict[tuple, int] = {}
    wrong = 0
    for r in rows:
        key = (r[0], r[1])
        seen[key] = seen.get(key, 0) + 1
        if expected.get(key) != tuple(r[2:]):
            wrong += 1
    dup_chunks = {k[0] for k, c in seen.items() if c > 1}
    found = sum(1 for k in expected if seen.get(k) == 1)
    checks = [
        ("every frame exactly once with its tags",
         found == len(expected) and wrong == 0 and len(rows) == len(expected),
         f"{found}/{len(expected)} frames, {wrong} wrong, {len(rows)} rows"),
        ("no fragment replayed across pause/resume", not dup_chunks,
         f"{len(dup_chunks)} fragments duplicated"),
        ("whole backlog committed", sum(files_per_batch.values()) == n_files,
         f"{sum(files_per_batch.values())}/{n_files} files"),
    ]

    layers = {
        "streaming.lifecycle.pause_s": pause_s,
        "streaming.lifecycle.resume_to_first_batch_s": resume_to_first,
        "streaming.lifecycle.replayed_fragments": float(len(dup_chunks)),
        "streaming.kvs_pipeline.frames_out": float(len(rows)),
        "streaming.kvs_pipeline.untagged_frames": float(
            sum(1 for r in rows if r[6] is None)),
        "engine.input_lag_files_max": float(n_files),
        **common.engine_metrics(progress),
    }
    if ctx.trace:
        layers.update(_micro(spark, spans, frags, in_dir, cap))
    return {
        "throughput": throughput,
        "latencies": latencies,
        "recall": found / len(expected),
        "checks": checks,
        "attempted": len(progress),
        "failed": 0,
        "layers": layers,
        "work": {"fragments": len(frags), "frames": len(expected), "files": n_files,
                 "measured_fragments": measured_frags, "batches": len(progress)},
    }


def _time_per_call(fn, args: list, min_s: float = 0.05) -> float:
    """Mean seconds per call of fn(*a) over `args`, repeated until at
    least `min_s` has been spent."""
    calls, t0 = 0, time.perf_counter()
    while True:
        for a in args:
            fn(*a)
        calls += len(args)
        el = time.perf_counter() - t0
        if el >= min_s:
            return el / calls


def _micro(spark, spans, frags, in_dir, cap) -> dict:
    """Per-layer costs measured outside the stream: the pure-Python
    kernels on a sample of fragments, and each stage of the batch DAG
    materialised alone on one trigger's worth of files."""
    sample = frags[:: max(1, len(frags) // 64)]
    allow = set(INTERESTING)
    n_elements = [sum(1 for _ in tokenize_bytes(f.payload, f.chunk_id, allow)) for f in sample]
    tok_s = _time_per_call(lambda f: list(tokenize_bytes(f.payload, f.chunk_id, allow)),
                           [(f,) for f in sample])
    block_payloads = [r["value_bin"] for f in sample
                      for r in tokenize_bytes(f.payload, f.chunk_id, {"SimpleBlock"})]
    psb_s = _time_per_call(parse_simple_block, [(b,) for b in block_payloads])
    rv_s = _time_per_call(lambda b: read_varint(b, 0, keep_marker=False),
                          [(b,) for b in block_payloads])

    files = sorted(os.path.join(in_dir, n) for n in os.listdir(in_dir))[:cap]
    chunks = spark.read.parquet(*files).persist()
    chunks.count()

    def materialise(df):
        df.write.format("noop").mode("overwrite").save()

    with spans.span("sources.ebml.parse_ebml_chunks") as sp_parse:
        materialise(parse_ebml_chunks(chunks, interesting_names=INTERESTING))
    elements = parse_ebml_chunks(chunks, interesting_names=INTERESTING).persist()
    elements.count()
    with spans.span("streaming.kvs_pipeline.pivot_tags") as sp_pivot:
        materialise(pivot_tags(elements))
    from pyspark.sql import functions as F

    blocks_df = elements.where(F.col("name") == "SimpleBlock").select(
        "chunk_id", F.col("position").alias("frame_position"),
        F.col("value_bin").alias("frame_payload"))
    with spans.span("streaming.kvs_pipeline.demux_blocks") as sp_demux:
        materialise(demux_blocks(blocks_df))
    with spans.span("streaming.kvs_pipeline.kvs_frames_with_tags") as sp_fwt:
        materialise(kvs_frames_with_tags(chunks))
    elements.unpersist()
    chunks.unpersist()
    return {
        "sources.ebml.tokenize_us_per_fragment": tok_s * 1e6,
        "sources.ebml.elements_per_fragment": sum(n_elements) / len(n_elements),
        "sources.ebml.parse_stage_s": sp_parse.seconds,
        "functions.ebml_decode.parse_simple_block_us": psb_s * 1e6,
        "functions.ebml_decode.read_varint_us": rv_s * 1e6,
        "streaming.kvs_pipeline.pivot_tags_s": sp_pivot.seconds,
        "streaming.kvs_pipeline.demux_blocks_s": sp_demux.seconds,
        "streaming.kvs_pipeline.frames_with_tags_s": sp_fwt.seconds,
    }
