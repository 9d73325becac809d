"""Seeded input generators for the three benchmark workloads.

Every generator takes the seed as an argument and draws from
``numpy.random.default_rng`` only, so the same seed yields byte-identical
inputs and any other seed yields different ones (checked by
``perfbench/test_gen.py``). The traffic parameters of each workload are
the module-level dicts below; ``run.py`` prints them with every result.
"""

from __future__ import annotations

import dataclasses
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from awskinesisconsumer_spark.sources.ebml import encode_element, encode_unknown_size
from awskinesisconsumer_spark.streaming.kvs_pipeline import KVS_TAG_NAMES

# ---------------------------------------------------------------------------
# Traffic parameters
# ---------------------------------------------------------------------------

# Fragment and frame sizes follow the GStreamer `kvssink` example of the
# Kinesis Video Streams producer SDK (640x480 at 30 fps, x264enc
# key-int-max=45, bitrate=500 kbit/s): KVS cuts a fragment at each key
# frame, so a fragment holds about 45 frames (1.5 s) and about 94 KB.
KVS_PARAMS = {
    "fragments_per_file": 16,
    "max_files_per_trigger": 48,     # per-trigger file cap: 768 fragments, ~70 MB
    "measured_batches_per_s": 0.25,  # backlog = cap * (1 + max(3, this * seconds)) files
    "blocks_per_fragment": [40, 50],  # uniform, inclusive; x264 may cut a GOP early
    "block_bytes_lognormal": [7.3, 0.5],  # mu, sigma of ln(bytes): median 1.5 KB
    "keyframe_bytes_lognormal": [9.6, 0.3],  # first block of a fragment: median 15 KB
    "laced_block_share": 0.03,       # Xiph or fixed lacing, 2-4 frames
    "tagless_fragment_share": 0.01,
}

LIVE_PARAMS = {
    "tick_s": 0.25,                  # one parquet file per tick
    "events_per_tick": 200,          # offered rate 800 events/s
    "users": 4000,
    "user_zipf_s": 1.1,              # key skew: P(rank k) ~ k^-s
    "signup_share": 0.06,            # as-of boundaries
    "error_share": 0.03,
    "out_of_order_share": 0.05,
    "out_of_order_max_event_s": 600,  # ts pulled back by up to this much
    "event_s_per_wall_s": 300,       # event-time speed: 10-min bucket = 2 s
    "memory_sink_k": 256,
    "lookup_hz": 200,
}

CORPUS_PARAMS = {
    "base_docs": 900,
    "words_per_doc": [120, 220],
    "vocab": 6000,
    "vocab_zipf_s": 1.05,
    "exact_dup_share": 0.10,         # copies of a base doc (half of them noisy)
    "near_dup_share": 0.10,          # variants of a base doc
    "near_dup_edit_rate": [0.003, 0.008],  # share of words substituted
    "noisy_share": 0.10,             # zero-width / control chars inside words
    "junk_share": 0.05,              # short stopword strings, fail the filter
    "quality_threshold": 0.5,
    "embedding_dim": 32,
    "clusters": 40,                  # one probe per planted cluster
    "cluster_size": 8,
    "cluster_noise": 0.15,
}

def _lognormal_int(rng, mu_sigma, lo: int = 1) -> int:
    return max(lo, int(rng.lognormal(*mu_sigma)))


# ---------------------------------------------------------------------------
# kvs-catchup: MKV fragments
# ---------------------------------------------------------------------------

@dataclasses.dataclass
class Fragment:
    chunk_id: int
    payload: bytes
    tags: dict[str, str] | None
    # (frame_position, track, timecode, keyframe, n_frames) per SimpleBlock
    frames: list[tuple[int, int, int, bool, int]]


def _simple_block(rng, block_no: int, laced: bool) -> tuple[bytes, int, bool, int]:
    keyframe = block_no == 0
    size = _lognormal_int(
        rng, KVS_PARAMS["keyframe_bytes_lognormal" if keyframe
                        else "block_bytes_lognormal"], lo=4)
    timecode = block_no * 33
    flags = 0x80 if keyframe else 0x00
    if not laced:
        body = rng.bytes(size)
        n_frames = 1
    else:
        n_frames = int(rng.integers(2, 5))
        if rng.random() < 0.5:  # Xiph lacing: 255-run sizes for frames 0..n-2
            flags |= 0x02
            sizes = [max(1, size // n_frames)] * n_frames
            head = bytes([n_frames - 1])
            for s in sizes[:-1]:
                head += b"\xff" * (s // 255) + bytes([s % 255])
            body = head + rng.bytes(sum(sizes))
        else:  # fixed-size lacing
            flags |= 0x04
            per = max(1, size // n_frames)
            body = bytes([n_frames - 1]) + rng.bytes(per * n_frames)
    header = bytes([0x81]) + timecode.to_bytes(2, "big", signed=True) + bytes([flags])
    return header + body, timecode, keyframe, n_frames


def kvs_fragment(rng, chunk_id: int, fragment_no: int, tagged: bool) -> Fragment:
    """One self-contained KVS fragment: EBML header, unknown-size
    Segment with Info/Tracks, the per-fragment AWS Tags (unless
    `tagged` is False) and an unknown-size Cluster of SimpleBlocks."""
    header = encode_element(0x1A45DFA3, b"".join([
        encode_element(0x4286, b"\x01"),
        encode_element(0x42F7, b"\x01"),
        encode_element(0x4282, b"matroska"),
        encode_element(0x4287, b"\x04"),
        encode_element(0x4285, b"\x02"),
    ]))
    info = encode_element(0x1549A966, encode_element(0x2AD7B1, (1_000_000).to_bytes(3, "big"))
                          + encode_element(0x4D80, b"perfbench"))
    tracks = encode_element(0x1654AE6B, encode_element(0xAE, b"".join([
        encode_element(0xD7, b"\x01"),
        encode_element(0x83, b"\x01"),
        encode_element(0x86, b"V_MPEG4/ISO/AVC"),
    ])))
    tags = None
    tags_bytes = b""
    if tagged:
        server_ts = 1_700_000_000 + fragment_no * 2
        tags = {
            "AWS_KINESISVIDEO_FRAGMENT_NUMBER": str(91343852333181432392682062000 + fragment_no),
            "AWS_KINESISVIDEO_SERVER_TIMESTAMP": f"{server_ts}.{int(rng.integers(0, 1000)):03d}",
            "AWS_KINESISVIDEO_PRODUCER_TIMESTAMP": f"{server_ts - 1}.{int(rng.integers(0, 1000)):03d}",
            "AWS_KINESISVIDEO_MILLIS_BEHIND_NOW": str(int(rng.integers(0, 3_600_000))),
            "AWS_KINESISVIDEO_CONTINUATION_TOKEN": f"{91343852333181432392682062000 + fragment_no}",
        }
        simple_tags = b"".join(
            encode_element(0x67C8, encode_element(0x45A3, k.encode())
                           + encode_element(0x4487, tags[k].encode()))
            for k in KVS_TAG_NAMES
        )
        tags_bytes = encode_element(0x1254C367, encode_element(0x7373, simple_tags))
    payload = bytearray(header + encode_unknown_size(0x18538067) + info + tracks + tags_bytes)
    payload += encode_unknown_size(0x1F43B675) + encode_element(0xE7, (fragment_no * 2000).to_bytes(4, "big"))
    lo, hi = KVS_PARAMS["blocks_per_fragment"]
    frames = []
    for b in range(int(rng.integers(lo, hi + 1))):
        laced = rng.random() < KVS_PARAMS["laced_block_share"]
        block, timecode, keyframe, n_frames = _simple_block(rng, b, laced)
        element = encode_element(0xA3, block)
        head_len = len(element) - len(block)
        frames.append((len(payload) + head_len, 1, timecode, keyframe, n_frames))
        payload += element
    return Fragment(chunk_id, bytes(payload), tags, frames)


def kvs_backlog(seed: int, n_files: int) -> list[list[Fragment]]:
    """The backlog: `n_files` files of `fragments_per_file` fragments."""
    rng = np.random.default_rng([seed, 1])
    per_file = KVS_PARAMS["fragments_per_file"]
    files = []
    for f in range(n_files):
        frags = []
        for i in range(per_file):
            n = f * per_file + i
            tagged = rng.random() >= KVS_PARAMS["tagless_fragment_share"]
            frags.append(kvs_fragment(rng, n, n, tagged))
        files.append(frags)
    return files


def write_chunk_file(frags: list[Fragment], path: str) -> None:
    table = pa.table({
        "chunk_id": pa.array([f.chunk_id for f in frags], pa.int64()),
        "payload": pa.array([f.payload for f in frags], pa.binary()),
    })
    write_atomic(table, path)


def write_atomic(table: pa.Table, path: str) -> None:
    # Spark's file source skips names starting with '.', so a reader
    # never sees a half-written file.
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, path)


# ---------------------------------------------------------------------------
# frame-live: event ticks
# ---------------------------------------------------------------------------

EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("ts", pa.timestamp("us", tz="UTC")),
])

EVENT_T0_US = 1_700_000_000 * 1_000_000


class EventSource:
    """Deterministic event ticks. Tick k holds `events_per_tick` events
    with consecutive event ids (arrival order); its event time advances
    `tick_s * event_s_per_wall_s` per tick, and a seeded share of events
    is pulled back in time (out of order, well within the watermark)."""

    def __init__(self, seed: int):
        p = LIVE_PARAMS
        self.rng = np.random.default_rng([seed, 2])
        ranks = np.arange(1, p["users"] + 1, dtype=np.float64)
        w = ranks ** -p["user_zipf_s"]
        self.user_p = w / w.sum()
        self.user_ids = self.rng.permutation(p["users"]).astype(np.int64) + 1
        self.next_id = 0

    def tick(self, k: int) -> pa.Table:
        p = LIVE_PARAMS
        rng = self.rng
        n = p["events_per_tick"]
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        users = self.user_ids[rng.choice(p["users"], size=n, p=self.user_p)]
        u = rng.random(n)
        etype = np.where(
            u < p["signup_share"], "signup",
            np.where(u < p["signup_share"] + p["error_share"], "error",
                     np.where(u < 0.5, "view", "click")))
        value = np.round(rng.random(n) * 100.0, 2)
        event_s = p["tick_s"] * p["event_s_per_wall_s"]
        ts = EVENT_T0_US + int(k * event_s * 1e6) + np.sort(
            rng.integers(0, int(event_s * 1e6), n))
        late = rng.random(n) < p["out_of_order_share"]
        ts = ts - late * rng.integers(1, int(p["out_of_order_max_event_s"] * 1e6), n)
        return pa.table([ids, users, pa.array(etype), value,
                         pa.array(ts, pa.timestamp("us", tz="UTC"))],
                        schema=EVENT_SCHEMA)


# ---------------------------------------------------------------------------
# corpus-curate: documents + embeddings
# ---------------------------------------------------------------------------

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]
_NOISE = ["\u200b", "\u200c", "\u200d", "\ufeff", "\x01", "\x07", "\x1b", "\x7f"]


@dataclasses.dataclass
class Corpus:
    ids: list[int]
    texts: list[str]
    embeddings: np.ndarray          # (n_docs, dim) float64, row i <-> ids[i]
    kept: set[int]                  # pass the quality filter
    survivors: set[int]             # exact-dedup survivors among kept
    near_dup_pairs: set[tuple[int, int]]  # planted (survivor, variant), a < b
    near_dup_families: dict[int, int]     # doc id -> family id
    probes: list[int]


def _vocab(rng, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 10))))
        if w not in STOPWORDS:
            words.add(w)
    return sorted(words)


def _noisy(rng, text: str) -> str:
    """Insert zero-width and control characters inside words: the
    normalizer strips them, so the clean text is recovered exactly."""
    chars = list(text)
    spots = [i for i, c in enumerate(chars) if c != " "]
    for i in sorted(rng.choice(spots, size=min(6, len(spots)), replace=False), reverse=True):
        chars.insert(int(i), _NOISE[int(rng.integers(0, len(_NOISE)))])
    return "".join(chars)


def corpus(seed: int, **overrides) -> Corpus:
    """The corpus of `seed`; `overrides` replace CORPUS_PARAMS entries."""
    p = {**CORPUS_PARAMS, **overrides}
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, p["vocab"])
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    wp = ranks ** -p["vocab_zipf_s"]
    wp /= wp.sum()
    lo, hi = p["words_per_doc"]

    def doc() -> list[str]:
        n = int(rng.integers(lo, hi + 1))
        return [vocab[i] for i in rng.choice(len(vocab), size=n, p=wp)]

    n_base = p["base_docs"]
    clean: list[str] = []        # normalized text of each generated doc
    raw: list[str] = []
    family: list[int] = []       # base doc index a doc derives from, or -1
    kind: list[str] = []
    for i in range(n_base):
        t = " ".join(doc())
        clean.append(t)
        raw.append(_noisy(rng, t) if rng.random() < p["noisy_share"] else t)
        family.append(i)
        kind.append("base")
    for _ in range(int(n_base * p["exact_dup_share"])):
        b = int(rng.integers(0, n_base))
        clean.append(clean[b])
        raw.append(_noisy(rng, clean[b]) if rng.random() < 0.5 else clean[b])
        family.append(b)
        kind.append("exact")
    for _ in range(int(n_base * p["near_dup_share"])):
        b = int(rng.integers(0, n_base))
        words = clean[b].split(" ")
        rate = rng.uniform(*p["near_dup_edit_rate"])
        for j in rng.choice(len(words), size=max(1, round(rate * len(words))), replace=False):
            new = words[j]
            while new == words[j]:
                new = vocab[int(rng.integers(0, len(vocab)))]
            words[j] = new
        t = " ".join(words)
        clean.append(t)
        raw.append(t)
        family.append(b)
        kind.append("near")
    for _ in range(int(n_base * p["junk_share"])):
        t = " ".join(rng.choice(STOPWORDS, size=int(rng.integers(3, 9))))
        clean.append(t)
        raw.append(t)
        family.append(-1)
        kind.append("junk")

    n = len(raw)
    ids = [int(x) for x in rng.permutation(n) + 1]   # doc id of generated doc i
    kept = {ids[i] for i in range(n) if kind[i] != "junk"}
    groups: dict[str, int] = {}
    for i in range(n):
        if kind[i] != "junk":
            groups[clean[i]] = min(groups.get(clean[i], ids[i]), ids[i])
    survivors = set(groups.values())
    near_pairs: set[tuple[int, int]] = set()
    families: dict[int, int] = {}
    for i in range(n):
        if kind[i] == "near" and ids[i] in survivors:
            a, b = groups[clean[family[i]]], ids[i]
            if a != b:
                near_pairs.add((min(a, b), max(a, b)))
                families[a] = families[b] = family[i]

    dim = p["embedding_dim"]
    emb = rng.standard_normal((n, dim))
    id_to_row = {d: i for i, d in enumerate(ids)}
    pool = sorted(survivors)
    chosen = rng.choice(len(pool), size=p["clusters"] * p["cluster_size"], replace=False)
    probes = []
    for c in range(p["clusters"]):
        center = rng.standard_normal(dim)
        members = [pool[int(j)] for j in chosen[c * p["cluster_size"]:(c + 1) * p["cluster_size"]]]
        for m in members:
            emb[id_to_row[m]] = center + p["cluster_noise"] * rng.standard_normal(dim)
        probes.append(members[0])
    return Corpus(ids, raw, np.round(emb, 6), kept, survivors, near_pairs, families,
                  sorted(probes))


def write_corpus(c: Corpus, docs_path: str, emb_path: str) -> None:
    pq.write_table(pa.table({
        "doc_id": pa.array(c.ids, pa.int64()),
        "text": pa.array(c.texts, pa.string()),
    }), docs_path)
    pq.write_table(pa.table({
        "doc_id": pa.array(c.ids, pa.int64()),
        "vec": pa.array(list(c.embeddings), pa.list_(pa.float64())),
    }), emb_path)
