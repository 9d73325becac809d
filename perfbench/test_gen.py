"""Tests of the benchmark's own input generators.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import io
import os
import sys

import pyarrow.parquet as pq

sys.path[:0] = [os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                os.path.dirname(os.path.abspath(__file__))]

import gen  # noqa: E402

from awskinesisconsumer_spark.functions.ebml_decode import parse_simple_block  # noqa: E402
from awskinesisconsumer_spark.sources.ebml import tokenize_bytes  # noqa: E402


def _digest(*parts: bytes) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p)
    return h.hexdigest()


def _kvs_digest(seed: int) -> str:
    return _digest(*(f.payload for files in gen.kvs_backlog(seed, 3) for f in files))


def _live_digest(seed: int) -> str:
    src = gen.EventSource(seed)
    parts = []
    for k in range(5):
        buf = io.BytesIO()
        pq.write_table(src.tick(k), buf)
        parts.append(buf.getvalue())
    return _digest(*parts)


def _corpus_digest(seed: int) -> str:
    c = gen.corpus(seed)
    return _digest("\x00".join(c.texts).encode(), c.embeddings.tobytes(),
                      repr(c.ids).encode(), repr(c.probes).encode())


def test_same_seed_gives_identical_inputs():
    for fn in (_kvs_digest, _live_digest, _corpus_digest):
        assert fn(7) == fn(7), fn.__name__


def test_other_seed_gives_different_inputs():
    for fn in (_kvs_digest, _live_digest, _corpus_digest):
        assert fn(7) != fn(8), fn.__name__


def test_fragment_frames_are_where_the_generator_says():
    frags = [f for files in gen.kvs_backlog(3, 4) for f in files]
    for f in frags:
        blocks = [r for r in tokenize_bytes(f.payload, f.chunk_id, {"SimpleBlock"})]
        assert [r["position"] for r in blocks] == [fr[0] for fr in f.frames]
        for r, (_, track, timecode, keyframe, n) in zip(blocks, f.frames):
            meta = parse_simple_block(r["value_bin"])
            assert (meta["track"], meta["timecode"], meta["keyframe"], meta["n_frames"]) == (
                track, timecode, keyframe, n)
        names = [r["value_str"] for r in tokenize_bytes(f.payload, f.chunk_id, {"TagName"})]
        assert len(names) == (0 if f.tags is None else len(f.tags))


def test_event_ticks_keep_arrival_order_and_shares():
    src = gen.EventSource(5)
    ticks = [src.tick(k) for k in range(40)]
    ids = [i for t in ticks for i in t.column("event_id").to_pylist()]
    assert ids == list(range(len(ids)))
    types = [e for t in ticks for e in t.column("event_type").to_pylist()]
    p = gen.LIVE_PARAMS
    assert abs(types.count("signup") / len(types) - p["signup_share"]) < 0.02
    assert abs(types.count("error") / len(types) - p["error_share"]) < 0.02


def test_corpus_expectations_are_consistent():
    c = gen.corpus(11)
    assert c.survivors <= c.kept
    assert len(c.survivors) < len(c.kept)      # exact dups were planted
    assert c.near_dup_pairs
    assert all(a in c.survivors and b in c.survivors for a, b in c.near_dup_pairs)
    assert set(c.probes) <= c.survivors
