"""MinHash-LSH signature kernel: the Arrow kernel behind
`dedup_minhash_lsh` must produce exactly the signatures of the
groupBy formulation (`minhash_signature`), whatever the Arrow batch
size, id type or number of input rows per id."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from awskinesisconsumer_spark.operators.dedup import (
    _MERSENNE,
    _POS_SHIFT,
    _kernel_partial_signatures,
    _merge_partial_signatures,
    dedup_minhash_lsh,
    minhash_signature,
    portable_hash52,
    shingle_rows,
    shingles,
    xxhash64_col,
)

_VOCAB = [f"w{i}" for i in range(40)]


def _random_docs(seed: int, n_docs: int = 120) -> list[tuple[int, str]]:
    """Random word docs, a third of them one-word edits of an earlier
    doc (so LSH has near-dups to find), some too short to shingle."""
    rng = random.Random(seed)
    docs: list[tuple[int, str]] = []
    for i in range(n_docs):
        if i % 3 == 2:
            words = docs[rng.randrange(len(docs))][1].split()
            if words:
                words[rng.randrange(len(words))] = rng.choice(_VOCAB)
            docs.append((i, " ".join(words)))
        else:
            n = rng.choice([0, 1, 2, rng.randint(3, 40)])
            docs.append((i, " ".join(rng.choice(_VOCAB) for _ in range(n))))
    return docs


def _decoded_kernel_sigs(df, *, num_hashes, hash_fn, merge=False) -> dict:
    rows = shingle_rows(df, id_col="doc_id", text_col="text").withColumn(
        "_h", F.pmod(hash_fn(F.col("shingle")), F.lit(_MERSENNE))
    )
    sigs = _kernel_partial_signatures(rows, id_col="doc_id",
                                      num_hashes=num_hashes)
    if merge:
        sigs = _merge_partial_signatures(sigs, id_col="doc_id",
                                         num_hashes=num_hashes)
    out = {}
    for r in sigs.collect():
        assert r.doc_id not in out, "one signature row per id"
        assert [v >> _POS_SHIFT for v in r._sig] == list(range(num_hashes))
        out[r.doc_id] = [v & _MERSENNE for v in r._sig]
    return out


def _groupby_sigs(df, *, num_hashes, hash_fn) -> dict:
    sigs = minhash_signature(
        shingles(df, text_col="text"), id_col="doc_id",
        shingle_col="shingles", num_hashes=num_hashes, hash_fn=hash_fn,
    )
    return {r.doc_id: list(r.minhash) for r in sigs.collect() if r.minhash}


@pytest.mark.parametrize("hash_fn", [xxhash64_col, portable_hash52])
@pytest.mark.parametrize("seed", [3, 4])
def test_kernel_signatures_equal_minhash_signature(spark, hash_fn, seed):
    df = spark.createDataFrame(
        _random_docs(seed), "doc_id bigint, text string"
    ).repartition(3)
    for num_hashes in (16, 64):
        want = _groupby_sigs(df, num_hashes=num_hashes, hash_fn=hash_fn)
        got = _decoded_kernel_sigs(df, num_hashes=num_hashes,
                                   hash_fn=hash_fn)
        assert want and got == want


@pytest.fixture()
def tiny_arrow_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    yield
    spark.conf.set(key, old)


def _pairs(df, **kw) -> list:
    out = dedup_minhash_lsh(df, id_col="doc_id", text_col="text", **kw)
    rows = sorted(tuple(r) for r in out.collect())
    out.unpersist()
    return rows


_LSH_KW = dict(num_hashes=32, bands=8, jaccard_threshold=0.3)


def test_kernel_carries_documents_across_arrow_batches(spark, request):
    # 7-row Arrow batches split nearly every document's shingle rows
    # over several batches: signatures and pairs must not change.
    df = spark.createDataFrame(
        _random_docs(5), "doc_id bigint, text string"
    ).repartition(2)
    want_sigs = _decoded_kernel_sigs(df, num_hashes=32,
                                     hash_fn=xxhash64_col)
    want_pairs = _pairs(df, **_LSH_KW)
    assert want_pairs
    request.getfixturevalue("tiny_arrow_batches")
    got_sigs = _decoded_kernel_sigs(df, num_hashes=32, hash_fn=xxhash64_col)
    got_pairs = _pairs(df, **_LSH_KW)
    assert got_sigs == want_sigs
    assert got_pairs == want_pairs


def _union_sigs(spark, docs, num_hashes) -> dict:
    """minhash_signature over each id's UNION of 3-word shingles."""
    sets: dict = {}
    for d, t in docs:
        w = t.lower().split()
        sets.setdefault(d, set()).update(
            " ".join(w[i:i + 3]) for i in range(len(w) - 2)
        )
    union = spark.createDataFrame(
        [(d, sorted(s)) for d, s in sets.items()],
        "doc_id bigint, shingles array<string>",
    )
    sigs = minhash_signature(union, id_col="doc_id", shingle_col="shingles",
                             num_hashes=num_hashes)
    return {r.doc_id: list(r.minhash) for r in sigs.collect() if r.minhash}


@pytest.mark.parametrize("batch", ["default", "tiny"])
def test_repeated_id_gets_signature_of_shingle_union(spark, batch, request):
    # An id spread over several input rows (here also over partitions)
    # is ONE document whose shingle set is the union of its rows' sets
    # — the groupBy semantics of minhash_signature.
    if batch == "tiny":
        request.getfixturevalue("tiny_arrow_batches")
    docs = _random_docs(6, n_docs=60)
    docs += [(d, t + " tail words added here") for d, t in docs[:20]]
    split = spark.createDataFrame(
        docs, "doc_id bigint, text string"
    ).repartition(4)
    got = _decoded_kernel_sigs(split, num_hashes=32, hash_fn=xxhash64_col,
                               merge=True)
    assert got == _union_sigs(spark, docs, 32)
    # ...and the operator scores those union signatures. bands=32
    # makes every pair with one agreeing component a candidate, so
    # the expected rows follow from the signatures alone.
    dup_docs = [(1, "a b c d e f g"), (2, "a b c d e f g"),
                (1, "a b c d e f g"), (3, "p q r s t u"),
                (4, "p q r s t u v w x y z"), (3, "v w x y z")]
    dup = spark.createDataFrame(
        dup_docs, "doc_id bigint, text string"
    ).repartition(3)
    sigs = _union_sigs(spark, dup_docs, 32)
    want = []  # (id_a, id_b, agreeing components)
    for a in sorted(sigs):
        for b in sorted(sigs):
            n = sum(x == y for x, y in zip(sigs[a], sigs[b]))
            if a < b and n:
                want.append((a, b, n))
    got = [(a, b, round(j * 32))
           for a, b, j in _pairs(dup, num_hashes=32, bands=32,
                                 jaccard_threshold=0.0)]
    assert got == want
    assert (1, 2, 32) in got and any(p[:2] == (3, 4) for p in got)


def test_string_and_integer_ids_give_the_same_pairs(spark):
    docs = _random_docs(7)
    ints = spark.createDataFrame(docs, "doc_id bigint, text string")
    # zero-padded so string order == integer order (id_a < id_b)
    strs = spark.createDataFrame(
        [(f"{d:05d}", t) for d, t in docs], "doc_id string, text string"
    )
    want = _pairs(ints, **_LSH_KW)
    got = _pairs(strs, **_LSH_KW)
    assert want
    assert got == [(f"{a:05d}", f"{b:05d}", j) for a, b, j in want]
