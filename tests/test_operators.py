"""Operator edge-case unit tests over tiny literal DataFrames:
as-of exact/strict semantics, segmentation boundary ownership,
global-K retention, throttle disable, explode zero-frames, id modes.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from awskinesisconsumer_spark.operators import (
    asof_join_backward,
    asof_join_next_boundary,
    assign_monotonic_id,
    decode_explode,
    segment_by_boundary,
    throttle_first_per_window,
    top_k_by_recency,
)


@pytest.fixture(scope="module")
def tiny(spark):
    rows = [
        # (user, id, type, value)
        (1, 1, "pkt", 10.0),
        (1, 2, "boundary", 0.0),
        (1, 3, "pkt", 30.0),
        (1, 4, "pkt", 40.0),
        (1, 5, "boundary", 0.0),
        (1, 6, "pkt", 60.0),   # orphan: no boundary after
        (2, 7, "pkt", 70.0),   # user with no boundary at all
    ]
    return spark.createDataFrame(
        rows, "user_id int, event_id int, event_type string, value double"
    )


def test_asof_next_boundary_strictness_and_orphans(tiny):
    out = asof_join_next_boundary(
        tiny, key="user_id", order="event_id",
        is_boundary=F.col("event_type") == "boundary",
        boundary_cols=[],
    )
    got = {r.event_id: r.tag_event_id for r in out.collect()}
    # packets before a boundary get THAT boundary (strictly after)
    assert got[1] == 2 and got[3] == 5 and got[4] == 5
    # orphans -> null, not error (reference raised; we route)
    assert got[6] is None and got[7] is None
    # boundary rows themselves are not emitted
    assert 2 not in got and 5 not in got


def test_asof_backward_exact_vs_strict(spark):
    left = spark.createDataFrame(
        [(1, 10), (1, 20)], "k int, t int"
    )
    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 15, "b")], "k int, rt int, tag string"
    )
    exact = asof_join_backward(
        left, right, key="k", left_on="t", right_on="rt",
        right_cols=["tag"], allow_exact=True,
    )
    got = {r.t: r.tag for r in exact.collect()}
    assert got == {10: "a", 20: "b"}
    strict = asof_join_backward(
        left, right, key="k", left_on="t", right_on="rt",
        right_cols=["tag"], allow_exact=False,
    )
    got2 = {r.t: r.tag for r in strict.collect()}
    assert got2 == {10: None, 20: "b"}  # rt=10 not < t=10


def test_segment_boundary_belongs_to_closed_segment(tiny):
    seg = segment_by_boundary(
        tiny, key="user_id", order="event_id",
        is_boundary=F.col("event_type") == "boundary",
    )
    got = {r.event_id: r.segment_id for r in seg.collect()}
    # rows 1-2 close segment 0 (boundary included), 3-5 segment 1,
    # trailing orphan 6 opens segment 2
    assert got[1] == 0 and got[2] == 0
    assert got[3] == 1 and got[4] == 1 and got[5] == 1
    assert got[6] == 2
    assert got[7] == 0  # separate user partition


def test_retention_global_take_ordered(tiny):
    out = top_k_by_recency(tiny, order="event_id", k=3, key=None)
    assert sorted(r.event_id for r in out.collect()) == [5, 6, 7]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_throttle_disabled_passthrough(tiny):
    ts = tiny.withColumn("ts", F.timestamp_seconds(F.col("event_id") * 1000))
    out = throttle_first_per_window(
        ts, key="user_id", ts="ts", order="event_id", span_seconds=0
    )
    assert out.count() == tiny.count()


def test_explode_zero_frames_drop(tiny):
    out = decode_explode(
        tiny,
        track_filter=F.col("event_type") == "pkt",
        n_frames=F.when(F.col("event_id") == 1, 0).otherwise(2),
    )
    rows = out.collect()
    assert all(r.event_id != 1 for r in rows)  # 0-frame packet vanishes
    assert sum(1 for r in rows if r.event_id == 3) == 2


def test_monotonic_id_modes(tiny):
    exact = assign_monotonic_id(tiny, order="event_id", key="user_id")
    per_user = {
        r.user_id: [] for r in exact.collect()
    }
    for r in exact.orderBy("event_id").collect():
        per_user[r.user_id].append(r.row_id)
    assert per_user[1] == [1, 2, 3, 4, 5, 6]
    assert per_user[2] == [1]
    loose = assign_monotonic_id(tiny, order="event_id", exact=False)
    ids = [r.row_id for r in loose.collect()]
    assert len(set(ids)) == len(ids)  # unique, not necessarily dense


def test_minhash_empty_docs_do_not_pair(spark):
    """Review regression: xxhash64(NULL)=42 (the seed), not NULL — so
    zero-shingle docs must not receive identical bogus signatures and
    pair up as jaccard-1.0 near-dups."""
    from awskinesisconsumer_spark.operators.dedup import (
        dedup_minhash_lsh, minhash_signature, shingles,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, ""), (3, "one two"), (4, "a b c d e f g h"),
         (5, "a b c d e f g h")],
        "doc_id bigint, text string",
    )
    sigs = minhash_signature(
        shingles(docs, text_col="text", n=3),
        id_col="doc_id", shingle_col="shingles", num_hashes=8,
    )
    by_id = {r.doc_id: list(r.minhash) for r in sigs.collect()}
    assert by_id[1] == [] and by_id[2] == []  # empty, not bogus
    pairs = dedup_minhash_lsh(
        docs, id_col="doc_id", text_col="text",
        num_hashes=8, bands=4, jaccard_threshold=0.5,
    ).collect()
    pair_set = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) not in pair_set          # empty docs never pair
    assert (4, 5) in pair_set              # real dups still found


def test_knn_zero_vector_not_ranked_first(spark):
    """Review regression: 0/0 cosine = NaN, and NaN sorts greatest —
    zero vectors must score NULL and never pollute the top-k."""
    from awskinesisconsumer_spark.operators.similarity import knn_brute_force

    rows = [
        (0, [0.0, 0.0]),            # zero-norm
        (1, [1.0, 0.0]),            # identical direction to query
        (2, [0.0, 1.0]),            # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = knn_brute_force(
        df, id_col="vec_id", vec_col="embedding", query=[1.0, 0.0], k=2
    ).collect()
    assert [r.vec_id for r in out] == [1, 2]
    assert all(r.cosine_sim is not None for r in out)


def test_text_ops_null_text_is_empty_doc(spark):
    """Advisor finding (round 2): NULL text must behave as an empty
    document on both engines (the oracles COALESCE the same way) — not
    produce NULL metrics that diverge from the Spark side."""
    from awskinesisconsumer_spark.operators.text import (
        fingerprint, language_id, quality_score, text_stats, token_count,
    )

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "the quick fox")],
        "doc_id bigint, text string",
    )
    stats = {r.doc_id: r for r in text_stats(df, text_col="text").collect()}
    for did in (1, 2):
        assert stats[did].n_words == 0
        assert stats[did].avg_word_len == 0.0
        assert stats[did].stopword_ratio == 0.0
        assert stats[did].distinct_ratio == 0.0
    assert stats[3].n_words == 3

    toks = {r.doc_id: r.n_tokens for r in token_count(df, text_col="text").collect()}
    assert toks[1] == 0 and toks[2] == 0 and toks[3] == 3

    qual = {r.doc_id: r.quality for r in quality_score(df, text_col="text").collect()}
    assert qual[1] == 0.0 and qual[2] == 0.0 and qual[3] > 0.0

    lang = {r.doc_id: r.lang_pred for r in language_id(df, text_col="text").collect()}
    assert lang[1] == "und" and lang[2] == "und" and lang[3] == "en"

    fp = {r.doc_id: r.fingerprint for r in fingerprint(df, text_col="text").collect()}
    assert fp[1] == 0 and fp[2] == 0 and fp[3] != 0


def test_connected_components_clusters(spark):
    """Min-label propagation resolves pairs into clusters: a chain
    (diameter > 1 forces multiple rounds), a separate blob, and
    singletons supplied via `vertices`."""
    from awskinesisconsumer_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12)],
        "id_a bigint, id_b bigint",
    )
    verts = spark.createDataFrame([(i,) for i in range(1, 15)], "id bigint")
    out = connected_components(pairs, vertices=verts)
    got = {r.id: r.cluster_id for r in out.collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,          # 4-hop chain -> one cluster
        10: 10, 11: 10, 12: 10,                 # triangle blob
        6: 6, 7: 7, 8: 8, 9: 9, 13: 13, 14: 14  # singletons
    }


def test_connected_components_string_ids(spark):
    """Doc ids are often strings (URLs, hashes); the convergence
    witness must not assume numeric labels."""
    from awskinesisconsumer_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")],
        "id_a string, id_b string",
    )
    got = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {x: "a" for x in "abcde"}


def test_connected_components_empty_pairs(spark):
    from awskinesisconsumer_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    verts = spark.createDataFrame([(1,), (2,)], "id bigint")
    got = {r.id: r.cluster_id for r in connected_components(pairs, vertices=verts).collect()}
    assert got == {1: 1, 2: 2}


def test_dedup_lines_first_occurrence(spark):
    """A line survives only at its globally smallest (doc, line_no);
    short lines are exempt; docs reassemble in original line order."""
    from awskinesisconsumer_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [
            (1, "alpha beta\n\ncommon line\nunique one"),
            (2, "common line\nalpha beta\n\nunique two"),
            (3, "common line"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in dedup_lines(
        docs, id_col="doc_id", text_col="text"
    ).collect()}
    # doc 1 is first for every one of its lines; blank line exempt
    assert out[1].text == "alpha beta\n\ncommon line\nunique one"
    assert out[1].n_lines == 4 and out[1].n_kept == 4
    # doc 2 loses both cross-doc dups, keeps its blank + unique
    assert out[2].text == "\nunique two"
    assert out[2].n_lines == 4 and out[2].n_kept == 2
    # doc 3 fully deduplicated -> empty text
    assert out[3].text == "" and out[3].n_kept == 0


def test_dedup_lines_within_doc(spark):
    from awskinesisconsumer_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [(1, "same\nsame\nsame")], "doc_id bigint, text string"
    )
    r = dedup_lines(docs, id_col="doc_id", text_col="text").collect()[0]
    assert r.text == "same" and r.n_lines == 3 and r.n_kept == 1


def test_kmeans_refine_reduces_inertia(spark):
    """Lloyd refinement: starting from two centroids inside the SAME
    blob, refinement separates them and strictly lowers the k-means
    objective; empty-cell handling keeps centroid count stable."""
    from awskinesisconsumer_spark.operators.similarity import (
        ivf_inertia,
        kmeans_refine_centroids,
    )

    # two tight 2-d blobs around (0,0) and (10,10)
    pts = [(i, [0.0 + 0.1 * (i % 5), 0.0 + 0.1 * ((i * 3) % 5)]) for i in range(20)]
    pts += [(100 + i, [10.0 + 0.1 * (i % 5), 10.0 + 0.1 * ((i * 7) % 5)])
            for i in range(20)]
    df = spark.createDataFrame(pts, "vec_id bigint, embedding array<float>")

    init = [[0.0, 0.0], [0.3, 0.1]]  # both in blob A
    before = ivf_inertia(df, vec_col="embedding", centroids=init)
    refined = kmeans_refine_centroids(
        df, vec_col="embedding", centroids=init, n_iter=10
    )
    after = ivf_inertia(df, vec_col="embedding", centroids=refined)
    assert after < before
    # one centroid per blob, near each blob mean
    cs = sorted(refined)
    assert abs(cs[0][0] - 0.2) < 0.5 and abs(cs[1][0] - 10.2) < 0.5


def test_semantic_dedup_apply_ignores_unrelated_rn_column(spark):
    """Regression: a caller's reps table may carry any column,
    including one named `_rn` (a common row_number alias). Only the
    column `semantic_dedup_prepare_reps` writes may stand in for the
    rep norm; anything else must not change the cosines."""
    import math

    from awskinesisconsumer_spark.operators.similarity import (
        semantic_dedup_apply, semantic_dedup_prepare_reps,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.8, 0.6]), (3, [0.1, 1.0]),
         (4, [0.0, 2.0])],
        "vec_id bigint, embedding array<double>",
    )
    reps = spark.createDataFrame(
        [(0, 10, [1.0, 0.1]), (1, 11, [0.2, 1.0])],
        "cell int, rep_id bigint, rep_vec array<double>",
    )
    kw = dict(id_col="vec_id", vec_col="embedding",
              centroids=[[1.0, 0.0], [0.0, 1.0]], threshold=0.9)

    def cosines(r):
        out = semantic_dedup_apply(emb, reps=r, **kw)
        return {row.vec_id: row.max_rep_cosine for row in out.collect()}

    want = cosines(reps)
    rep_vec = {10: [1.0, 0.1], 11: [0.2, 1.0]}
    for vid, vec, rid in [(1, [1.0, 0.0], 10), (4, [0.0, 2.0], 11)]:
        dot = sum(a * b for a, b in zip(vec, rep_vec[rid]))
        norms = math.hypot(*vec) * math.hypot(*rep_vec[rid])
        assert want[vid] == pytest.approx(dot / norms, abs=1e-6)
    assert cosines(reps.withColumn("_rn", F.lit(1000.0))) == want
    assert cosines(semantic_dedup_prepare_reps(reps)) == want
