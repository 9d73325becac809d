"""Deduplication operators (north-star `ext-dedup-*`, SURVEY §2 extension
table). Exact, MinHash-LSH, SimHash, and n-gram-Jaccard variants, each
designed so the expensive comparison only happens inside small
hash-defined buckets — the only shape that survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from .caching import release_after as _release_after

# Deterministic modulus for the minhash permutation family. 2^31-1
# (Mersenne prime) keeps every intermediate product well inside int64,
# so the arithmetic is safe under ANSI mode (Spark 4 default) where
# long overflow is an error, not a wrap.
_MERSENNE = (1 << 31) - 1


def xxhash64_col(col) -> Column:
    """Default hash for the near-dup family: Spark's JVM-side xxhash64
    (fast, codegen'd). Engine-specific — results are not reproducible
    outside Spark."""
    return F.xxhash64(col)


def portable_hash52(col) -> Column:
    """Engine-portable 52-bit hash: the first 13 hex chars of md5,
    parsed as an integer. Reproducible bit-for-bit in any engine with
    md5 + hex parsing (DuckDB: ``('0x' || substr(md5(x),1,13))::BIGINT``),
    which makes minhash/simhash results oracle-checkable. 52 bits keeps
    every downstream product (h * 127 + const) far inside int64, so
    ANSI Spark and overflow-checking engines agree. ~3x slower than
    xxhash64 (md5 + string slice + base conversion, still whole-stage
    codegen) — use for verification fixtures, not the 100 TB path."""
    return F.conv(F.substring(F.md5(col), 1, 13), 16, 10).cast("long")


def dedup_exact(df: DataFrame, *, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: one survivor (min id) per distinct text, with the
    duplicate count. Groups on a 256-bit digest (sha2) of the text:
    collision-safe for any realistic corpus (2^-128 birthday odds —
    unlike a 64-bit hash, which WILL collide at billions of rows) while
    keeping shuffle keys at 32 bytes instead of whole document
    bodies."""
    digest = F.sha2(F.col(text_col).cast("binary"), 256)
    return (
        df.groupBy(digest.alias("_digest"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .drop("_digest")
    )


def shingles(df: DataFrame, *, text_col: str, n: int = 3,
             out_col: str = "shingles") -> DataFrame:
    """Word n-gram shingle set per document as an array column.
    Prefer `shingle_rows` in aggregating pipelines — it avoids the
    interpreted array-lambda path entirely."""
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(words) - n),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
    )
    # Empty/short docs -> empty shingle set, not null.
    safe = F.when(F.size(words) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )
    return df.withColumn(out_col, safe)


def shingle_rows(df: DataFrame, *, id_col: str, text_col: str, n: int = 3,
                 distinct: bool = False) -> DataFrame:
    """Word n-gram shingles as (id, shingle) ROWS, built NARROW: zip
    the word array with its own 1..n-1 shifts (arrays_zip pads the
    short side with null = incomplete tail grams, which are filtered),
    explode, concat. No shuffle, no per-element lambda (array lambdas
    interpret ~10x slower, measured), ~3x faster than the previous
    window+lead formulation which shuffled and sorted per doc. The
    consumer's groupBy provides the single shuffle of the pipeline."""
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    # NOT fanned out (r16 optimization round): an interleaved on/off
    # A/B on ext-dedup-minhash (the heaviest shingle consumer)
    # measured the size-gated fan-out a WASH here — the gram build is
    # cheap enough per row that the round-robin exchange cancels the
    # parallelism win; the consumer's own groupBy provides the
    # pipeline's shuffle. (A first attempt that fanned the projection
    # output instead of the raw text measured a 2x regression —
    # recorded so it is not retried.)
    base = df.select(F.col(id_col), words.alias("_ws"))
    nw = F.size(F.col("_ws"))
    shifted = [F.col("_ws")] + [
        F.slice(F.col("_ws"), i + 1, F.greatest(nw - i, F.lit(0)))
        for i in range(1, n)
    ]
    z = F.arrays_zip(*[s.alias(f"w{i}") for i, s in enumerate(shifted)])
    # explode_OUTER (r16): stops InferFiltersFromGenerate restating
    # the zip+slices allocation in a Filter below the Generate; a
    # NULL _g from an empty zip fails the existing w{n-1}/w0 filter,
    # so the gram row set is identical.
    ex = base.select(id_col, F.explode_outer(z).alias("_g"))
    gram = F.concat_ws(" ", *[F.col("_g")[f"w{i}"] for i in range(n)])
    grams = (
        ex.where(F.col(f"_g.w{n - 1}").isNotNull() & (F.col("_g.w0") != ""))
        .select(id_col, gram.alias("shingle"))
    )
    return grams.dropDuplicates([id_col, "shingle"]) if distinct else grams


def minhash_signature(df: DataFrame, *, id_col: str, shingle_col: str,
                      num_hashes: int = 64,
                      out_col: str = "minhash",
                      hash_fn=xxhash64_col) -> DataFrame:
    """MinHash signature: num_hashes permutations simulated as
    (a*x + b) mod p over a base hash (`hash_fn`, default xxhash64) of
    each shingle.

    Shape matters: explode shingles once, derive all permutations as
    flat scalar columns (whole-stage codegen — nested array lambdas
    fall back to interpreted eval and are ~100x slower), then a single
    groupBy(id).min(...) with map-side partial aggregation, so the
    shuffle carries one num_hashes-wide row per document regardless of
    document size. Returns (id_col, out_col); docs with zero shingles
    get an empty signature.
    """
    # NULL-safe hash: xxhash64(NULL) returns the seed (42), NOT null —
    # without the guard every zero-shingle doc would get the same bogus
    # signature and compare as jaccard 1.0 with every other empty doc.
    ex = (
        df.select(id_col, F.explode_outer(shingle_col).alias("_s"))
        .withColumn(
            "_h",
            F.when(F.col("_s").isNotNull(),
                   F.pmod(hash_fn(F.col("_s")), F.lit(_MERSENNE))),
        )
    )
    return _minhash_from_rows(ex, id_col=id_col, num_hashes=num_hashes,
                              out_col=out_col)


def _perm_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """The minhash permutation family: permutation i maps a base hash h
    to (h*a_i + b_i) mod _MERSENNE with (a_i, b_i) = (2i+1, 7919*(i+1)).
    Single source of truth for the groupBy aggregates
    (`_perm_min_aggs`) and the Arrow signature kernel
    (`_signature_kernel`), so their signatures are bit-identical."""
    return [(2 * i + 1, 7919 * (i + 1)) for i in range(num_hashes)]


def _perm_min_aggs(num_hashes: int) -> list:
    """The permutation family as groupBy aggregates: for each i, min
    over the group's base hashes `_h` of permutation i, aliased
    `_m{i}`."""
    return [
        F.min((F.col("_h") * F.lit(a) + F.lit(b)) % _MERSENNE).alias(f"_m{i}")
        for i, (a, b) in enumerate(_perm_coeffs(num_hashes))
    ]


# Bit offset of the permutation index in an encoded signature
# component: component i of a kernel signature is (i << 31) | m_i.
# m_i < _MERSENNE < 2^31, so the value never spills into the index,
# and two components are equal only when position AND value agree.
_POS_SHIFT = 31


def _signature_kernel(num_hashes: int):
    """mapInArrow kernel: (id, _h) rows -> (id, _sig) with _sig the
    ENCODED signature [(i << 31) | m_i], m_i = min over the run's base
    hashes of permutation i of `_perm_coeffs`.

    One signature per RUN of equal adjacent ids. `shingle_rows`
    explodes each input row in place, so a document's rows arrive
    adjacent in one partition; only an Arrow batch boundary can split
    a run, and the kernel carries each batch's last run into the next
    batch. An id spread over several input rows still yields several
    runs — the caller merges those (`_merge_partial_signatures`)."""
    coeffs = _perm_coeffs(num_hashes)

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        a, b = np.array(coeffs, dtype=np.int64).T
        tag = np.arange(num_hashes, dtype=np.int64) << _POS_SHIFT
        names = None

        def emit(ids, sig):
            flat = pa.array((sig | tag).ravel())
            offsets = pa.array(np.arange(0, len(flat) + 1, num_hashes,
                                         dtype=np.int32))
            return pa.RecordBatch.from_arrays(
                [ids, pa.ListArray.from_arrays(offsets, flat)], names=names
            )

        carry_id = carry_sig = None
        for batch in batches:
            n_rows = batch.num_rows
            if n_rows == 0:
                continue
            names = [batch.schema.names[0], "_sig"]
            ids = batch.column(0)
            # (num_hashes, n_rows): the per-run min then reduces along
            # contiguous memory, ~10x faster than along axis 0.
            perm = a[:, None] * batch.column(1).to_numpy()
            perm += b[:, None]
            perm %= _MERSENNE
            new_run = np.ones(n_rows, dtype=bool)
            if n_rows > 1:
                new_run[1:] = pc.not_equal(
                    ids.slice(1), ids.slice(0, n_rows - 1)
                ).to_numpy(zero_copy_only=False)
            starts = np.flatnonzero(new_run)
            sig = np.minimum.reduceat(perm, starts, axis=1).T
            run_ids = ids.take(pa.array(starts))
            if carry_id is not None:
                if run_ids[0].as_py() == carry_id[0].as_py():
                    np.minimum(sig[0], carry_sig, out=sig[0])
                else:
                    yield emit(carry_id, carry_sig[None, :])
            last = len(starts) - 1
            if last:
                yield emit(run_ids.slice(0, last), sig[:last])
            carry_id, carry_sig = run_ids.slice(last, 1), sig[last]
        if carry_id is not None:
            yield emit(carry_id, carry_sig[None, :])

    return kernel


def _kernel_partial_signatures(rows: DataFrame, *, id_col: str,
                               num_hashes: int) -> DataFrame:
    """(id, _h) shingle-hash rows -> (id_col, _sig) encoded signatures,
    one per run of adjacent rows (`_signature_kernel`), in the input's
    partitioning. Rows with a null id are dropped (a null id can never
    satisfy the pair predicate id_a < id_b)."""
    schema = StructType([
        StructField(id_col, rows.schema[id_col].dataType, nullable=False),
        StructField("_sig", ArrayType(LongType(), containsNull=False),
                    nullable=False),
    ])
    return (
        rows.select(id_col, "_h").where(F.col(id_col).isNotNull())
        .mapInArrow(_signature_kernel(num_hashes), schema)
    )


def _has_repeated_ids(df: DataFrame, id_col: str) -> bool:
    """True when some id occurs in more than one row of `df`."""
    return not (
        df.groupBy(id_col).count().where(F.col("count") > 1).isEmpty()
    )


def _merge_partial_signatures(parts: DataFrame, *, id_col: str,
                              num_hashes: int) -> DataFrame:
    """Fold the kernel's per-run signatures into one per id: the
    element-wise min, so an id spread over several input rows gets the
    signature of the UNION of its shingles (the groupBy semantics of
    `minhash_signature`). The shuffle carries one signature row per
    run, never shingle rows. An id's k runs flatten to k*num_hashes
    encoded values whose sort puts position i's k candidates at
    [i*k, (i+1)*k), smallest first, so every k-th element is the
    merged component (k = 1 keeps the signature as it is)."""
    flat = F.flatten(F.collect_list("_sig"))
    k = (F.size(flat) / F.lit(num_hashes)).cast("int")
    return parts.groupBy(id_col).agg(
        F.filter(F.array_sort(flat), lambda _, j: j % k == 0).alias("_sig")
    )


def _minhash_from_rows(ex: DataFrame, *, id_col: str, num_hashes: int,
                       out_col: str = "minhash") -> DataFrame:
    """(id, _h) rows -> one signature row per id (groupBy + N mins)."""
    agg = ex.groupBy(id_col).agg(*_perm_min_aggs(num_hashes))
    sig = F.array(*[F.col(f"_m{i}") for i in range(num_hashes)])
    return agg.select(
        F.col(id_col),
        F.when(F.col("_m0").isNull(),
               F.array().cast(ArrayType(LongType()))).otherwise(sig).alias(out_col),
    )


def minhash_group_sketch(
    df: DataFrame, *, key_col: str, group_col: str,
    num_hashes: int = 32, hash_fn=xxhash64_col,
) -> DataFrame:
    """GROUP-level MinHash signature as a mergeable sketch TABLE:
    one (group, perm, minh) row per (group, permutation), minh = min
    over the group's keys of permutation `perm` of the base hash —
    the same `_perm_min_aggs` family the per-doc signatures use, so
    one hash convention serves both granularities. This is the
    MinHash analogue of `sketches.kmv_sketch`: KMV answers "how many
    distinct", this answers "how SIMILAR are two groups' key sets"
    (Jaccard from component agreement, `minhash_overlap_matrix`) in
    O(num_hashes) state per group.

    Merge rule is an EXACT identity (`minhash_sketch_merge`): min of
    per-shard mins == global min, so per-day/per-shard sketches fold
    into the corpus sketch with zero error — the property the shard
    gate replays. NULL keys are dropped (a group with no keys emits
    no rows). Scale shape: one narrow projection, one
    map-side-combined groupBy carrying num_hashes longs per group,
    then a num_hashes-wide melt of the G-row aggregate."""
    ex = (
        df.select(
            F.col(group_col).alias("group"),
            F.col(key_col).cast("string").alias("_k"),
        )
        .where(F.col("_k").isNotNull())
        .withColumn(
            "_h", F.pmod(hash_fn(F.col("_k")), F.lit(_MERSENNE))
        )
    )
    agg = ex.groupBy("group").agg(*_perm_min_aggs(num_hashes))
    melted = F.explode(
        F.array(*[
            F.struct(
                F.lit(i).alias("perm"), F.col(f"_m{i}").alias("minh")
            )
            for i in range(num_hashes)
        ])
    ).alias("pm")
    return agg.select("group", melted).select(
        "group", F.col("pm.perm").alias("perm"),
        F.col("pm.minh").alias("minh"),
    )


def minhash_sketch_merge(shards: DataFrame) -> DataFrame:
    """Merge per-shard (group, perm, minh) MinHash sketches into the
    group-level sketch: min of mins — exact, associative, the
    kmv_merge counterpart. Input rows for the same (group, perm)
    from any number of shards collapse to one."""
    return shards.groupBy("group", "perm").agg(
        F.min("minh").alias("minh")
    )


def minhash_overlap_matrix(
    sig: DataFrame, *, num_hashes: int,
) -> DataFrame:
    """All-pairs Jaccard estimates between groups from ONE sketch
    pass: for each unordered group pair, the fraction of agreeing
    signature components — E[agree] = J(A, B), the classic MinHash
    estimator. The `kmv_overlap_matrix` companion when the question
    is similarity rather than distinct counts; at G groups the
    self-join is G^2 * num_hashes rows, everything downstream of the
    sketch bounded. Returns (group_a, group_b, n_match,
    jaccard_est)."""
    a = sig.select(
        F.col("group").alias("group_a"), "perm",
        F.col("minh").alias("_ha"),
    )
    b = sig.select(
        F.col("group").alias("group_b"), "perm",
        F.col("minh").alias("_hb"),
    )
    j = a.join(b, "perm").where(F.col("group_a") < F.col("group_b"))
    return (
        j.groupBy("group_a", "group_b")
        .agg(
            F.sum((F.col("_ha") == F.col("_hb")).cast("long"))
            .alias("n_match")
        )
        .select(
            "group_a", "group_b", "n_match",
            F.round(
                F.col("n_match") / F.lit(float(num_hashes)), 6
            ).alias("jaccard_est"),
        )
    )


def dedup_minhash_lsh(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.8,
    hash_fn=xxhash64_col,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash LSH.

    shingle -> minhash -> split signature into `bands` bands ->
    self-join on the band key -> verify candidates with the exact
    signature-estimated Jaccard. The band join is an equi-join on the
    band key, so it shuffles candidates only — never the O(n²) cross
    product. Returns (id_a, id_b, est_jaccard) with id_a < id_b.
    """
    rows_per_band = num_hashes // bands
    rows = shingle_rows(
        df.select(id_col, text_col), id_col=id_col, text_col=text_col, n=n
    ).withColumn("_h", F.pmod(hash_fn(F.col("shingle")), F.lit(_MERSENNE)))
    # Plan width is the cost here, not data. On a ~1k-doc corpus
    # (local[4]) the previous shape — num_hashes flat `min`
    # aggregates, one concat_ws+hash band key per band, a
    # num_hashes-term element_at sum in the verify — ran 19 jobs /
    # 484 tasks per call and spent 7.7-8.9 CPU-s deserializing task
    # binaries (~16 ms each) plus ~2.4 s of driver planning, both of
    # which scale with the expression count every task carries. Now
    # one Arrow kernel computes the signatures from the narrow
    # (id, _h) rows without shuffling them (a document's rows are
    # adjacent, see `_signature_kernel`): 16 jobs / 140 tasks,
    # ~0.9 CPU-s of deserialization. Docs with zero shingles have no
    # rows here, so they get no signature and never pair.
    # The cache holds the kernel output in the INPUT's partitioning,
    # so every downstream scan runs one task per input partition.
    # Only an id spread over several input rows needs the merge
    # shuffle; one small id-count job (which also fills the cache)
    # finds out, and unique-id input skips the merge. Merging
    # unconditionally cost ~1 s per call on the same corpus: an
    # exchange over a cached scan is not reused, so each of the merge's
    # consumers shuffled the signatures again.
    parts = _kernel_partial_signatures(
        rows, id_col=id_col, num_hashes=num_hashes
    ).persist()
    sigs = (
        _merge_partial_signatures(parts, id_col=id_col, num_hashes=num_hashes)
        if _has_repeated_ids(parts, id_col) else parts
    )

    # Each component carries its position ((i << 31) | m_i), so a band
    # key is a plain slice of the signature: equal slices <=> equal
    # band AND equal minima. No band index column, no second hash.
    banded = sigs.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.slice("_sig", b * rows_per_band + 1, rows_per_band)
            for b in range(bands)
        ])).alias("_bk"),
    )

    # Skew guard: a pathological bucket of m docs yields m^2 candidate
    # pairs — cap bucket size (hot buckets carry no dedup signal worth
    # a quadratic blowup; standard LSH practice at scale).
    hot = (
        banded.groupBy("_bk").count()
        .where(F.col("count") > 200).select("_bk")
    )
    banded = banded.join(F.broadcast(hot), "_bk", "left_anti")

    # Candidate pairs: narrow (id_a, id_b) rows only — signatures are
    # re-attached after dedup so the band shuffle never carries them.
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            on=[
                F.col("l._bk") == F.col("r._bk"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    # Verify: estimated Jaccard = fraction of matching permutation
    # minima. Encoded components are distinct within a signature and
    # equal across two only at the same position with the same
    # minimum, so the match count is one codegen'd set intersection
    # — a single expression where the previous shape carried a
    # num_hashes-term element_at sum in every verify task.
    sig_a = sigs.select(F.col(id_col).alias("id_a"), F.col("_sig").alias("_sa"))
    sig_b = sigs.select(F.col(id_col).alias("id_b"), F.col("_sig").alias("_sb"))
    n_match = F.size(F.array_intersect("_sa", "_sb"))
    out = (
        cand.join(sig_a, "id_a").join(sig_b, "id_b")
        .withColumn("est_jaccard", F.round(n_match / F.lit(num_hashes), 4))
        .where(F.col("est_jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )
    return _release_after(out, parts)


def simhash(df: DataFrame, *, text_col: str, id_col: str, bits: int = 64,
            out_col: str = "simhash", hash_fn=xxhash64_col) -> DataFrame:
    """64-bit SimHash over word tokens: per-bit weighted vote of token
    hashes, sign -> bit. Column-expression implementation: explode
    tokens, aggregate per-bit sums via bitwise ops, one shuffle on id.
    """
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    tok = (
        df.select(id_col, F.explode(words).alias("_w"))
        .where(F.col("_w") != "")
        .withColumn("_h", hash_fn(F.col("_w")))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"_b{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    fp = None
    for i in range(bits):
        bit = F.when(F.col(f"_b{i}") > 0, F.lit(1).cast("long")).otherwise(0)
        term = F.shiftleft(bit, i)
        fp = term if fp is None else fp.bitwiseXOR(term)
    return agg.select(id_col, fp.alias(out_col))


def _inverted_index_pair_counts(
    df: DataFrame, *, id_col: str, text_col: str, n: int,
    hot_cap: int, sizes_from_filtered: bool,
):
    """Shared machinery for the exact n-gram pair family: distinct
    (doc, shingle) postings -> hot-shingle skew cap -> inverted-index
    self-join -> per-pair common counts + per-doc sizes. Returns
    (pairs, sizes, all_posts) with all_posts persisted — callers
    finish with their own normalizer and MUST `_release_after` on
    all_posts."""
    all_posts = shingle_rows(
        df.select(id_col, text_col), id_col=id_col, text_col=text_col,
        n=n, distinct=True,
    ).withColumnRenamed("shingle", "_s").persist()
    # Skew guard: drop shingles appearing in too many docs (they carry
    # no discriminative signal and create quadratic bucket joins).
    hot = (
        all_posts.groupBy("_s").count()
        .where(F.col("count") > hot_cap).select("_s")
    )
    posts = all_posts.join(F.broadcast(hot), "_s", "left_anti")
    pairs = (
        posts.alias("a")
        .join(posts.alias("b"),
              on=[F.col("a._s") == F.col("b._s"),
                  F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    size_src = posts if sizes_from_filtered else all_posts
    sizes = size_src.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    return pairs, sizes, all_posts


def _attach_sizes(pairs: DataFrame, sizes: DataFrame, id_col: str) -> DataFrame:
    return (
        pairs.join(sizes.withColumnRenamed(id_col, "id_a")
                   .withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b")
              .withColumnRenamed("n_sh", "n_b"), "id_b")
    )


def ngram_jaccard_pairs(
    df: DataFrame, *, id_col: str, text_col: str, n: int = 3,
    threshold: float = 0.5, hot_cap: int = 100,
) -> DataFrame:
    """Exact n-gram Jaccard over LSH-prefiltered candidates: compute
    true Jaccard on pairs sharing at least one shingle hash bucket
    (inverted-index join on shingle -> candidate pair -> exact verify).
    The inverted index bounds the join to documents that share content;
    hot shingles (stopword runs) are the skew risk — cap postings per
    shingle (drop buckets larger than `hot_cap` docs, standard
    practice). NOTE the cap makes this a bounded ESTIMATE, not ground
    truth: a pair whose every shared shingle is hot cannot be seeded,
    and n_common is counted post-cap. Raise `hot_cap` (on a sampled
    slab) when the exact pair set matters, e.g. as an audit truth side.

    True set sizes come from the UNFILTERED postings: hot shingles
    still count toward |A| and |B| even if they can't seed a pair —
    for the union normalizer that is the conservative choice (both
    numerator and denominator shrink together under the cap).
    """
    pairs, sizes, all_posts = _inverted_index_pair_counts(
        df, id_col=id_col, text_col=text_col, n=n, hot_cap=hot_cap,
        sizes_from_filtered=False,
    )
    out = (
        _attach_sizes(pairs, sizes, id_col)
        .withColumn(
            "jaccard",
            F.round(F.col("n_common")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 4),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return _release_after(out, all_posts)


def connected_components(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    vertices: DataFrame | None = None,
    id_col: str = "id",
    max_iter: int = 50,
) -> DataFrame:
    """Resolve near-dup candidate pairs into duplicate CLUSTERS:
    (id, cluster_id) where cluster_id = min doc id reachable through
    the pair graph. The canonical "keep one document per duplicate
    group" step that follows any pairwise dedup (minhash / simhash /
    n-gram / embedding pairs all feed it).

    Iterative min-label propagation: each round every vertex takes the
    smallest label among itself and its neighbors (one equi-join + one
    groupBy per round — no cross product, shuffles keyed by vertex id).
    Rounds needed = graph diameter, and dedup-cluster graphs are
    shallow (near-clique blobs), so 3-5 rounds is typical. Labels only
    ever decrease, so a per-round count of rows whose incoming message
    beat their label is an exact convergence witness — type-agnostic
    (doc ids are often strings), one tiny agg over the already-
    checkpointed round result. localCheckpoint truncates the growing
    lineage each round (the standard guard for iterative DataFrame
    algorithms — without it round N replans rounds 1..N-1).

    `vertices` (optional) adds isolated docs: anything absent from
    `pairs` becomes its own singleton cluster, so the output covers the
    whole corpus and downstream keep-one filtering is a plain
    `where(id == cluster_id)`.
    """
    e = pairs.select(F.col(id_a).alias("_src"), F.col(id_b).alias("_dst"))
    # repartition on the per-round join key BEFORE materializing: the
    # materialized relation keeps its hash partitioning (persist
    # directly; checkpoint via LogicalRDD's recorded
    # outputPartitioning), so every round's edges-side exchange is
    # elided — only the (smaller) labels side shuffles per round.
    # Materialization strategy follows pagerank's measured rule: DEEP
    # upstream plans (the gated use — candidate-pair machinery) get
    # localCheckpoint, because persist keeps the full logical plan
    # and each round re-analyzes/re-optimizes the whole lineage
    # (2-3x total wall); SHALLOW plans over big edge lists keep the
    # columnar persist, whose write is much cheaper than a
    # serialized checkpoint.
    edges = (
        e.unionByName(
            e.select(F.col("_dst").alias("_src"), F.col("_src").alias("_dst"))
        )
        .distinct()
        .repartition("_src")
    )
    try:
        deep_plan = (
            edges._jdf.queryExecution().analyzed().toString().count("\n")
            > 40
        )
    except Exception:  # no JVM plan handle (e.g. Connect)
        deep_plan = True
    edges_cached = None
    if deep_plan:
        edges = edges.localCheckpoint(eager=True)
    else:
        edges = edges_cached = edges.persist()
    verts = edges.select(F.col("_src").alias(id_col)).distinct()
    if vertices is not None:
        verts = vertices.select(id_col).unionByName(verts).distinct()
    labels = verts.select(id_col, F.col(id_col).alias("cluster_id"))
    labels = labels.localCheckpoint(eager=True)
    # try/finally so a mid-loop failure (including the
    # non-convergence RuntimeError) cannot leak the shallow-path
    # persist for the session lifetime.
    try:
        for _ in range(max_iter):
            msgs = (
                edges.join(labels, edges["_src"] == labels[id_col])
                .groupBy(F.col("_dst").alias(id_col))
                .agg(F.min("cluster_id").alias("_msg"))
            )
            # Lazy checkpoint: the convergence count below is the
            # action that materializes it, so each round costs ONE
            # job, not two (eager checkpoint + count). Deterministic
            # input, so lazy materialization is safe.
            labels = (
                labels.join(msgs, id_col, "left")
                .select(
                    id_col,
                    F.least("cluster_id", "_msg").alias("cluster_id"),
                    F.coalesce(F.col("_msg") < F.col("cluster_id"),
                               F.lit(False)).alias("_changed"),
                )
            ).localCheckpoint(eager=False)
            n_changed = labels.agg(
                F.count_if(F.col("_changed"))).collect()[0][0]
            labels = labels.drop("_changed")
            if n_changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                "rounds"
            )
    finally:
        # deep path: edges' checkpoint blocks are reclaimed by the
        # ContextCleaner once the reference drops; labels carries its
        # own checkpoints. On success the converged labels were
        # materialized by the last convergence count, so the
        # shallow-path cache can release either way.
        if edges_cached is not None:
            edges_cached.unpersist()
    return labels


def cap_pairs_per_doc(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    cap: int,
    order_col: str | None = None,
    salt_buckets: int = 16,
) -> DataFrame:
    """Bound a candidate-pair table at top-`cap` pairs PER DOCUMENT —
    the guard between LSH pair generation and `connected_components`
    that keeps a boilerplate mega-group (R near-identical docs emit
    R^2/2 raw pairs) from materializing a quadratic edge list. Each
    pair is ranked from BOTH endpoints' perspectives — by `order_col`
    descending (similarity, band-hit count) when given, else the
    portable-hash order — and survives if EITHER endpoint ranks it
    within `cap` (the union keeps chains connected), so the output is
    <= 2 * cap * docs rows, linear in corpus size.

    Returns distinct (id_a, id_b), canonical id_a < id_b. Recall
    trade, documented like `hot_cap`: a transitive link ranked past
    `cap` on BOTH endpoints is dropped, which can split an
    over-merged cluster — per-doc-bounded, same contract as
    `knn_join_topk`'s top-k truncation.

    Scale shape: one symmetric projection (no join) + the
    `domain_cap_topk` salted two-level rank, so a mega-doc's
    candidate list never funnels through one reducer; the final
    distinct shuffles only the <= 2*cap*docs survivors.
    """
    from .corpus_prep import domain_cap_topk

    if cap < 1:
        raise ValueError(
            f"cap_pairs_per_doc: cap must be >= 1, got {cap}"
        )
    carry = [F.col(order_col)] if order_col else []
    sym = pairs.select(
        F.col(id_a).alias("_end"), F.col(id_b).alias("_oth"), *carry
    ).unionByName(pairs.select(
        F.col(id_b).alias("_end"), F.col(id_a).alias("_oth"), *carry
    ))
    order = [F.col(order_col).desc()] if order_col else None
    kept_sym = domain_cap_topk(
        sym, group_col="_end", cap=cap, order_by=order,
        id_col="_oth", salt_buckets=salt_buckets, with_totals=False,
    )
    # back to canonical (id_a < id_b) orientation; the union of the
    # two endpoint views dedups to one row per surviving pair
    return kept_sym.select(
        F.least("_end", "_oth").alias(id_a),
        F.greatest("_end", "_oth").alias(id_b),
    ).distinct()


def dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str,
    score_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    salt_buckets: int = 16,
    pair_cap: int | None = None,
    pair_order_col: str | None = None,
) -> DataFrame:
    """Cluster resolution that keeps the BEST document per duplicate
    cluster — what production dedup actually ships: after pairwise
    candidates resolve into clusters, keep the highest-QUALITY
    representative (longest, best quality score), not the arbitrary
    min-id member `where(id == cluster_id)` keeps. Ties break on
    ascending id, so the kept set is fully deterministic.

    Output: `docs` + cluster_id + kept (boolean; exactly one kept row
    per cluster). Docs absent from `pairs` are singleton clusters and
    always kept.

    `pair_cap` (optional) bounds the pair table BEFORE connected
    components: each doc keeps only its top-`pair_cap` candidate
    pairs — ranked by `pair_order_col` descending (similarity, band
    hits) when given, else by the portable-hash order — and a pair
    survives if EITHER endpoint ranks it (the union keeps chains
    connected), so the edge set entering label propagation is
    <= 2 * pair_cap * docs instead of the raw LSH table's R^2/2 per
    duplicate group (the r9 scaling study measured 3.9M pairs from
    200k docs without it). The trade is the `hot_cap` one: a
    transitive link ranked past `pair_cap` on BOTH endpoints can
    split an over-merged mega-cluster — usually the desired outcome
    for boilerplate blobs, and the recall cost is per-doc-bounded
    like `knn_join_topk`'s.

    Scale shape: clusters come from `connected_components` (min-label
    propagation, see there); both the pair cap and the per-cluster
    argmax REUSE `domain_cap_topk` (the salted two-level rank — cap
    here, cap=1 there), so a boilerplate mega-cluster never funnels
    through one reducer; the winner table is cluster-count-bounded
    and re-attaches by an id-keyed equi-join.
    """
    from .corpus_prep import domain_cap_topk

    if pair_cap is not None:
        pairs = cap_pairs_per_doc(
            pairs, id_a=id_a, id_b=id_b, cap=pair_cap,
            order_col=pair_order_col, salt_buckets=salt_buckets,
        )
    cc = connected_components(
        pairs, id_a=id_a, id_b=id_b,
        vertices=docs.select(F.col(id_col).alias("id")),
    )
    labeled = docs.join(
        cc.select(F.col("id").alias(id_col), "cluster_id"), id_col
    )
    winners = domain_cap_topk(
        labeled.select(id_col, "cluster_id", score_col),
        group_col="cluster_id", cap=1,
        order_by=[F.col(score_col).desc()], id_col=id_col,
        salt_buckets=salt_buckets, with_totals=False,
    ).select(F.col(id_col).alias("_win"))
    return (
        labeled.join(winners, labeled[id_col] == winners["_win"], "left")
        .withColumn("kept", F.col("_win").isNotNull())
        .drop("_win")
    )


def dedup_lines(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    min_chars: int = 1,
) -> DataFrame:
    """Cross-document LINE-level dedup (the CCNet-style pass LLM
    corpora run before doc-level dedup): a line survives only at its
    globally first occurrence (smallest (doc, line_no)); every later
    copy — in other docs or later in the same doc — is dropped, and
    each doc is reassembled from its surviving lines in order.

    Lines shorter than `min_chars` (e.g. blank separators) are exempt:
    deduping them would collapse every blank line in the corpus into
    one doc's copy and wreck document structure.

    Shape: posexplode to (doc, line_no, line) rows; first-occurrence
    test is one row_number window partitioned by the line's sha2-256
    digest (32-byte shuffle key instead of the line text; collision
    odds 2^-128); reassembly is one groupBy(doc) with an ordered
    collect. Two shuffles total, both key-partitioned — no global
    sort, no driver collect.

    Returns (id_col, text, n_lines, n_kept).
    """
    from pyspark.sql import Window

    lines = df.select(
        id_col,
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n", -1)
        ).alias("line_no", "line"),
    )
    w = Window.partitionBy(
        F.sha2(F.col("line").cast("binary"), 256)
    ).orderBy(id_col, "line_no")
    flagged = lines.withColumn(
        "_keep",
        (F.length("line") < min_chars) | (F.row_number().over(w) == 1),
    )
    kept_struct = F.when(F.col("_keep"), F.struct("line_no", "line"))
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("text"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("_keep").cast("long")).alias("n_kept"),
    )


def ngram_containment_pairs(
    df: DataFrame, *, id_col: str, text_col: str, n: int = 3,
    threshold: float = 0.8, hot_cap: int = 100,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs: |A ∩ B| / min(|A|, |B|) —
    the doc-inside-doc duplication signal symmetric Jaccard misses
    (a short doc fully quoted inside a long one has high containment
    but low Jaccard, because the union is dominated by the long doc).
    Standard complement to Jaccard in crawl dedup (Broder's
    resemblance vs containment).

    Same inverted-index machinery as `ngram_jaccard_pairs`, with one
    deliberate difference: sizes come from the FILTERED postings
    (hot-capped shingle universe), SYMMETRIC with the intersection
    counts. Under the min-size normalizer an asymmetric cap would
    systematically suppress the target signal — a boilerplate doc
    quoted in > hot_cap documents would keep its full |A| while every
    shared shingle is excluded from |A ∩ B|, reporting containment ~0
    for true containment 1. With the symmetric universe the score is
    "containment over discriminative shingles"; raise `hot_cap` when
    hunting boilerplate that IS that widespread. Returns
    (id_a, id_b, containment) with id_a < id_b.
    """
    pairs, sizes, all_posts = _inverted_index_pair_counts(
        df, id_col=id_col, text_col=text_col, n=n, hot_cap=hot_cap,
        sizes_from_filtered=True,
    )
    out = (
        _attach_sizes(pairs, sizes, id_col)
        .withColumn(
            "containment",
            F.round(F.col("n_common")
                    / F.least(F.col("n_a"), F.col("n_b")), 4),
        )
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
    return _release_after(out, all_posts)


def duplicated_spans(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    span_len: int = 8,
    stride: int = 4,
    min_docs: int = 2,
    hash_fn=xxhash64_col,
    anchored: bool = False,
) -> DataFrame:
    """Cross-document duplicated-SPAN detection — the span-level
    signal behind exact-substring dedup of training corpora (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): boilerplate, licenses, and templated passages repeat as
    long literal word runs across otherwise-distinct documents, which
    document-level Jaccard/MinHash under-weights.

    A full suffix array is the exact tool; at corpus scale the
    approximation is fixed-length spans sampled one of two ways:

    - `anchored=False` (default): windows start at multiples of
      `stride` FROM EACH DOC'S START. Cheap and deterministic, but
      phase-sensitive: two docs sharing a literal run at offsets that
      differ mod `stride` sample DIFFERENT sub-windows of the run and
      never hash-equal — this mode only catches duplicates whose
      in-doc offsets are stride-aligned (templated documents, fixed
      layouts).
    - `anchored=True`: content-defined starts (winnowing-style) —
      a window begins wherever hash(start word) % stride == 0, so
      start positions travel WITH the content. A run shared at any
      offsets anchors at the same run-relative positions in every
      doc (expected one anchor per `stride` words; a run of length
      >= span_len + stride contains one in expectation), which is
      what cross-doc boilerplate detection actually needs. Same
      expected window count as strided mode.

    Returns one row per span seen in >= `min_docs` distinct
    documents: (span_hash, n_docs, n_occurrences, min_doc, max_doc).

    Scale shape: tokenize -> strided slice (narrow, no shuffle) ->
    ONE hash-keyed groupBy whose map-side combine collapses repeats
    within a partition; output rows are bounded by the number of
    DISTINCT duplicated spans (Zipf-bounded), never document pairs —
    no self-join, nothing O(n^2). Downstream span removal is a
    semi-join of (doc, span) against this table.
    """
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = df.select(F.col(id_col), words.alias("_ws")).where(
        F.size(F.col("_ws")) >= span_len
    )
    occ = _span_occurrences(
        base, id_col=id_col, span_len=span_len, stride=stride,
        hash_fn=hash_fn, anchored=anchored,
    )
    return (
        occ.groupBy(F.col("_h").alias("span_hash"))
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(id_col).alias("min_doc"),
            F.max(id_col).alias("max_doc"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def _span_occurrences(
    base: DataFrame, *, id_col: str, span_len: int, stride: int,
    hash_fn, anchored: bool,
) -> DataFrame:
    """(id, _start, _h) for every sampled span window over `base`
    (id_col + `_ws` word arrays, already length-filtered). Shared by
    `duplicated_spans` (detection) and `remove_duplicate_spans`
    (edit) so the two always sample identically."""
    if anchored:
        # Content-defined starts: 0-based position p anchors iff
        # hash(word[p]) % stride == 0 — offsets travel with the
        # content, so shared runs anchor identically in every doc.
        starts = F.filter(
            F.sequence(
                F.lit(0), (F.size(F.col("_ws")) - span_len).cast("int")
            ),
            lambda p: F.pmod(
                hash_fn(F.element_at(F.col("_ws"), p + 1)), F.lit(stride)
            ) == 0,
        )
    else:
        starts = F.transform(
            F.sequence(
                F.lit(0),
                F.floor(
                    (F.size(F.col("_ws")) - span_len) / stride
                ).cast("int"),
            ),
            lambda i: i * stride,
        )
    # explode_OUTER + isNotNull (r16 optimization round): the
    # non-outer Generate made InferFiltersFromGenerate restate the
    # whole `starts` election — per-word hash filter included — in a
    # Filter below it (the CDC-family fix, corpus_prep
    # _cdc_spans_to_chunks); outer emits one NULL _start for an
    # empty election, dropped by the guard, so the row set is
    # identical for every input.
    return base.select(
        id_col,
        F.explode_outer(starts).alias("_start"),
        "_ws",
    ).where(F.col("_start").isNotNull()).select(
        id_col,
        "_start",
        hash_fn(
            F.concat_ws(
                " ", F.slice(F.col("_ws"), F.col("_start") + 1, span_len)
            )
        ).alias("_h"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    span_len: int = 8,
    stride: int = 4,
    min_docs: int = 2,
    keep_first: bool = True,
    hash_fn=xxhash64_col,
    anchored: bool = True,
) -> DataFrame:
    """SURGICAL span dedup — the removal half of `duplicated_spans`
    (Lee et al. 2022 edit semantics): word windows whose sampled span
    hash repeats across >= `min_docs` documents are CUT from every
    occurrence, keeping (with `keep_first`) only the globally first
    copy — (min doc, min start) per span, a total order so the
    canonical occurrence is engine-replayable. Boilerplate, licenses,
    and templated passages disappear from the corpus instead of
    dragging whole documents out with them. Defaults to
    `anchored=True` (content-defined window starts): cross-doc
    boilerplate sits at arbitrary offsets, exactly the case the
    doc-aligned strided sampling cannot see (see `duplicated_spans`).
    Removal is window-granular: a run anchors every ~`stride` words,
    so up to the stride-tail of a duplicated run can survive the cut
    — surgical-but-approximate, the standard trade for
    suffix-array-free span dedup.

    Output text is the NORMALIZED word stream (lowercased,
    single-space joined — the same tokenization the span hashes are
    computed on) minus the removed windows; span removal runs after
    normalization in a real pipeline, so the contract matches
    deployment. NULL text stays NULL; docs shorter than `span_len`
    words pass through (normalized) untouched.

    Scale shape: the span table is `duplicated_spans`' — one strided
    hash pass, one hash-keyed groupBy, output bounded by DISTINCT
    duplicated spans. Removal is (doc, position)-keyed: dup windows
    explode to at most span_len * occurrences positions, the corpus
    word stream posexplodes once, and a left-anti join + ordered
    per-doc fold reassemble the text — two doc-keyed shuffles, the
    same reassembly shape as `dedup_lines`, nothing pairwise.

    Returns (id_col, text_clean, n_words, n_removed, changed).
    """
    words = F.split(F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))),
                    r"\s+")
    base = df.select(
        F.col(id_col),
        F.col(text_col).isNull().alias("_was_null"),
        F.when(
            F.length(F.trim(F.coalesce(F.col(text_col), F.lit("")))) == 0,
            F.array().cast("array<string>"),
        ).otherwise(words).alias("_ws"),
    )
    eligible = base.where(F.size("_ws") >= span_len)
    occ = _span_occurrences(
        eligible, id_col=id_col, span_len=span_len, stride=stride,
        hash_fn=hash_fn, anchored=anchored,
    )
    dup = (
        occ.groupBy("_h")
        .agg(
            F.countDistinct(id_col).alias("_nd"),
            F.min(
                F.struct(F.col(id_col).alias("d"), F.col("_start").alias("s"))
            ).alias("_first"),
        )
        .where(F.col("_nd") >= min_docs)
    )
    removed = occ.join(dup, "_h")
    if keep_first:
        removed = removed.where(
            ~((F.col(id_col) == F.col("_first.d"))
              & (F.col("_start") == F.col("_first.s")))
        )
    drop_pos = removed.select(
        id_col,
        F.explode(
            F.sequence(
                F.col("_start"), F.col("_start") + F.lit(span_len - 1)
            )
        ).alias("_pos"),
    ).distinct()
    toks = base.select(
        id_col, F.posexplode("_ws").alias("_pos", "_w")
    ).withColumn("_pos", F.col("_pos").cast("bigint"))
    kept = toks.join(drop_pos, [id_col, "_pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_w"))),
                lambda s: s["_w"],
            ),
        ).alias("_clean"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    return (
        base.select(id_col, "_was_null", F.size("_ws").alias("n_words"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.when(~F.col("_was_null"),
                   F.coalesce("_clean", F.lit(""))).alias("text_clean"),
            F.col("n_words").cast("bigint").alias("n_words"),
            (F.col("n_words") - F.coalesce("_n_kept", F.lit(0)))
            .cast("bigint").alias("n_removed"),
            (F.col("n_words") - F.coalesce("_n_kept", F.lit(0)) > 0)
            .alias("changed"),
        )
    )


def build_incremental_index(
    corpus_df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    hot_postings: int = 100,
) -> tuple[DataFrame, DataFrame]:
    """Precompute the corpus-side structures `dedup_incremental`
    probes: (distinct normalized-text digests, gram postings with
    hot grams dropped). This IS the index a real incremental-ingest
    pipeline maintains between batches — build it once, persist it,
    and pass it to `dedup_incremental(index=...)` so repeated batches
    (or every micro-batch of `incremental_dedup_stream`) skip the
    corpus scans entirely. Definitions are shared with the inline
    path by construction, so index-fed results are identical."""
    norm = F.sha2(
        F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), 256
    )
    digests = corpus_df.select(norm.alias("_digest")).distinct()
    grams = shingle_rows(
        corpus_df.select(id_col, text_col), id_col=id_col,
        text_col=text_col, n=n, distinct=True,
    ).select(F.col(id_col).alias("_cid"), "shingle")
    hot = (
        grams.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") > hot_postings)
        .select("shingle")
    )
    return digests, grams.join(hot, "shingle", "left_anti")


def dedup_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame | None = None,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_overlap: int = 5,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Incremental-ingestion dedup: flag rows of a NEW batch that
    duplicate the EXISTING corpus — exactly (normalized-text digest)
    or nearly (>= `min_overlap` shared distinct n-grams with any one
    corpus doc). The daily-ingest shape: the corpus is huge and
    already deduped; only the (small) new batch is scored, and the
    corpus is never self-joined.

    Shape: one digest anti-probe (corpus digests aggregated to
    distinct — at 100 TB this is the precomputed digest index a real
    pipeline maintains) + a shingle inverted-index join keyed on the
    gram. Grams with more than 100 corpus postings are DROPPED from
    the index entirely (left_anti), not truncated to their first 100
    postings: an idf-style choice that bounds the probe join, with
    the documented recall trade-off that a new doc whose overlap is
    mostly such boilerplate grams can score below `min_overlap` and
    escape the near-dup flag. Returns the new batch with `exact_dup`
    and `near_dup` flags plus the best-match overlap.

    Pass `index=` (from `build_incremental_index`, typically
    persisted) to reuse a prebuilt corpus index instead of
    `corpus_df` — the multi-batch / streaming shape, where rebuilding
    the index per batch would rescan the static corpus every time.

    Gated as `ext-dedup-incremental` (r5); the streaming per-batch
    form is `streaming.pipeline.incremental_dedup_stream`.
    """
    if (corpus_df is None) == (index is None):
        raise ValueError(
            "dedup_incremental: pass exactly one of corpus_df or index"
        )
    if index is None:
        index = build_incremental_index(
            corpus_df, id_col=id_col, text_col=text_col, n=n,
        )
    corpus_digests, capped = index
    norm = F.sha2(
        F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), 256
    )
    flagged = new_df.withColumn("_digest", norm).join(
        corpus_digests.withColumn("_hit", F.lit(True)), "_digest", "left"
    ).withColumn("exact_dup", F.coalesce("_hit", F.lit(False))).drop("_hit")

    new_grams = shingle_rows(
        new_df.select(id_col, text_col), id_col=id_col,
        text_col=text_col, n=n, distinct=True,
    ).select(F.col(id_col).alias("_nid"), "shingle")
    overlap = (
        new_grams.join(capped, "shingle")
        .groupBy("_nid", "_cid")
        .agg(F.count(F.lit(1)).alias("_common"))
        .groupBy("_nid")
        .agg(F.max("_common").alias("max_overlap"))
    )
    return (
        flagged.join(
            overlap, flagged[id_col] == overlap["_nid"], "left"
        )
        .withColumn(
            "max_overlap", F.coalesce("max_overlap", F.lit(0))
        )
        .withColumn("near_dup", F.col("max_overlap") >= min_overlap)
        .drop("_nid", "_digest")
    )


def dedup_recall_audit(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    truth_threshold: float = 0.3,
    num_hashes: int = 32,
    bands: int = 8,
    hash_fn=xxhash64_col,
    truth_hot_cap: int = 100,
) -> DataFrame:
    """Dedup-quality audit: what fraction of near-duplicate
    pairs (n-gram Jaccard >= truth_threshold) does the banded
    MinHash LSH candidate generator actually surface? The dedup
    analogue of the ANN recall@k audit (`ext-ann-recall`): every
    production dedup deployment needs this number per Jaccard band —
    LSH's recall is probabilistic in (num_hashes, bands) and
    collapses quietly near the S-curve's foot, which is exactly
    where near-dup corpora live.

    Both sides are the proven operators: truth =
    `ngram_jaccard_pairs` (inverted-index candidates, exact verify),
    candidates = `dedup_minhash_lsh` at threshold 0.0 (every banded
    collision, pre-filter). Emitted per 0.1-wide true-Jaccard
    bucket: n_true_pairs, n_caught, recall (4 dp).

    CAVEAT on the denominator: the truth side is itself the
    inverted-index-bounded estimate — shingle buckets above
    `truth_hot_cap` docs cannot seed truth pairs, so on
    stopword/boilerplate-heavy corpora the "true" pair set is
    incomplete and the reported recall can be biased HIGH. Raise (or
    effectively disable with a large value) `truth_hot_cap` when
    auditing a sampled slab — that is the intended production mode.

    Scale shape: both inputs are pair tables bounded by the inverted
    index / band join (never O(n^2)); the audit itself is a
    pair-keyed semi-join + a ~10-row rollup. Run it on a sampled
    corpus slab at 100 TB — the recall curve is a property of the
    (num_hashes, bands) geometry, not of corpus size.
    """
    truth = ngram_jaccard_pairs(
        df, id_col=id_col, text_col=text_col, n=n,
        threshold=truth_threshold, hot_cap=truth_hot_cap,
    )
    cand = dedup_minhash_lsh(
        df, id_col=id_col, text_col=text_col, n=n,
        num_hashes=num_hashes, bands=bands, jaccard_threshold=0.0,
        hash_fn=hash_fn,
    ).select("id_a", "id_b")
    bucket = (F.floor(F.col("jaccard") * 10) / 10.0).alias("bucket_lo")
    per_true = truth.select(bucket).groupBy("bucket_lo").agg(
        F.count(F.lit(1)).alias("n_true_pairs")
    )
    caught = truth.join(cand, ["id_a", "id_b"], "left_semi")
    per_caught = caught.select(bucket).groupBy("bucket_lo").agg(
        F.count(F.lit(1)).alias("n_caught")
    )
    return (
        per_true.join(per_caught, "bucket_lo", "left")
        .select(
            "bucket_lo",
            "n_true_pairs",
            F.coalesce("n_caught", F.lit(0).cast("long")).alias("n_caught"),
            F.round(
                F.coalesce("n_caught", F.lit(0).cast("long"))
                / F.col("n_true_pairs"),
                4,
            ).alias("recall"),
        )
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    bits: int = 16,
    max_hamming: int = 3,
    bands: int = 4,
    hash_fn=xxhash64_col,
    hot_cap: int | None = 200,
    with_capped_audit: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs via Hamming banding (the
    Manku/Jain/Sarma web-dedup construction): fingerprints split
    into `bands` equal chunks; candidates = pairs agreeing on at
    least one chunk; verified with exact Hamming distance <=
    `max_hamming`.

    The pigeonhole argument makes candidate generation LOSSLESS for
    every pair untouched by the skew cap — d bit-differences can
    touch at most d chunks, so with bands >= max_hamming + 1 (the
    geometry enforced at call time) every qualifying pair shares an
    untouched chunk and is generated (unlike MinHash banding, whose
    recall is probabilistic — the S-curve `ext-dedup-recall`
    measures). CAVEAT: `hot_cap` trades that guarantee for skew
    safety — band buckets holding more than `hot_cap` docs cannot
    seed pairs, so on boilerplate-heavy corpora a true pair whose
    only agreeing chunk lands in a hot bucket is missed. Pass
    hot_cap=None for the unconditional lossless form (accepting the
    quadratic blow-up inside whatever mega-buckets exist).

    `with_capped_audit=True` makes that recall trade VISIBLE: the
    output gains an `n_capped_buckets` column — how many (band_idx,
    band_val) buckets the hot cap silenced (0 when hot_cap is None).
    The r9 scaling study measured the cap silently pruning most true
    pairs on a near-dup-heavy corpus; a non-zero audit count is the
    signal to raise `hot_cap` or accept the documented loss. The
    count is one scalar (a bucket-table aggregate broadcast onto
    every row — the one-row crossJoin pattern), so the audit costs
    one tiny agg, not a second corpus pass. CAVEAT (r11 ADVICE): the
    column rides the PAIR rows, so when the cap suppresses every
    pair — a fully boilerplate corpus, exactly the scenario the
    audit exists for — the output is empty and the non-zero count is
    unobservable here. An empty result with a cap set is NOT
    evidence of a dup-free corpus: check `simhash_capped_buckets`
    (the standalone one-row audit) before trusting it.

    Emitted: (id_a, id_b, hamming), id_a < id_b, distinct
    (+ n_capped_buckets when `with_capped_audit`).

    Scale shape: fingerprints are one long per doc; the band
    explode is bands rows per doc; the candidate join is an
    equi-join on (band_idx, band_value) — hot band buckets (boiler-
    plate-heavy corpora) are the skew risk, capped like the shingle
    index (verify still runs on every surviving candidate). The
    verify is one bit_count(xor) per candidate — integer ops, no
    text touched after the fingerprint pass.
    """
    if bands < max_hamming + 1:
        raise ValueError(
            f"simhash_near_dup_pairs: bands ({bands}) must be >= "
            f"max_hamming + 1 ({max_hamming + 1}) for the pigeonhole "
            "guarantee"
        )
    if bits % bands != 0:
        raise ValueError(
            f"simhash_near_dup_pairs: bits ({bits}) must divide into "
            f"bands ({bands}) evenly"
        )
    width = bits // bands
    mask = (1 << width) - 1
    fps = simhash(
        df, text_col=text_col, id_col=id_col, bits=bits,
        hash_fn=hash_fn,
    )
    banded = fps.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band_idx"),
                    F.shiftright(F.col("simhash"), i * width)
                    .bitwiseAND(F.lit(mask)).alias("band_val"),
                )
                for i in range(bands)
            ])
        ).alias("_b"),
    ).select(
        id_col, "simhash",
        F.col("_b.band_idx").alias("band_idx"),
        F.col("_b.band_val").alias("band_val"),
    )
    hot = None
    if hot_cap is not None:
        hot = (
            banded.groupBy("band_idx", "band_val")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > hot_cap)
            .select("band_idx", "band_val")
        )
        kept = banded.join(hot, ["band_idx", "band_val"], "left_anti")
    else:
        kept = banded
    left = kept.select(
        F.col("band_idx"), F.col("band_val"),
        F.col(id_col).alias("id_a"), F.col("simhash").alias("_fa"),
    )
    right = kept.select(
        F.col("band_idx"), F.col("band_val"),
        F.col(id_col).alias("id_b"), F.col("simhash").alias("_fb"),
    )
    cand = (
        left.join(right, ["band_idx", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_fa", "_fb")
        .distinct()
    )
    out = (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb"))).cast("int"),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    if with_capped_audit:
        if hot is None:
            return out.withColumn(
                "n_capped_buckets", F.lit(0).cast("long")
            )
        n_capped = hot.agg(
            F.count(F.lit(1)).cast("long").alias("n_capped_buckets")
        )
        return out.crossJoin(F.broadcast(n_capped))
    return out


def simhash_capped_buckets(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    bits: int = 16,
    bands: int = 4,
    hash_fn=xxhash64_col,
    hot_cap: int | None = 200,
) -> DataFrame:
    """Standalone ONE-ROW audit of `simhash_near_dup_pairs`'
    `hot_cap` recall trade: (n_capped_buckets, n_capped_rows) — how
    many (band_idx, band_val) buckets the cap silenced and how many
    banded rows sat inside them. Unlike `with_capped_audit=True`
    (whose count rides the pair rows and vanishes when the cap
    suppresses EVERY pair — the r11 ADVICE blind spot), this always
    returns exactly one row, so a fully-boilerplate corpus reports
    its silent recall loss instead of an empty, innocent-looking
    result. Same banding arithmetic as the pair miner (same bits/
    bands/hash give the same buckets); cost is the fingerprint pass
    plus one tiny aggregate — no candidate join."""
    if bits % bands != 0:
        raise ValueError(
            f"simhash_capped_buckets: bits ({bits}) must divide into "
            f"bands ({bands}) evenly"
        )
    width = bits // bands
    mask = (1 << width) - 1
    fps = simhash(
        df, text_col=text_col, id_col=id_col, bits=bits, hash_fn=hash_fn,
    )
    banded = fps.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band_idx"),
                    F.shiftright(F.col("simhash"), i * width)
                    .bitwiseAND(F.lit(mask)).alias("band_val"),
                )
                for i in range(bands)
            ])
        ).alias("_b"),
    ).select(F.col("_b.band_idx").alias("band_idx"),
             F.col("_b.band_val").alias("band_val"))
    if hot_cap is None:
        return banded.agg(
            F.lit(0).cast("long").alias("n_capped_buckets"),
            F.lit(0).cast("long").alias("n_capped_rows"),
        )
    per_bucket = banded.groupBy("band_idx", "band_val").agg(
        F.count(F.lit(1)).alias("_n")
    )
    return per_bucket.agg(
        F.coalesce(
            F.sum(F.when(F.col("_n") > hot_cap, 1).cast("long")),
            F.lit(0).cast("long"),
        ).alias("n_capped_buckets"),
        F.coalesce(
            F.sum(F.when(F.col("_n") > hot_cap, F.col("_n"))
                  .cast("long")),
            F.lit(0).cast("long"),
        ).alias("n_capped_rows"),
    )


def dedup_reweight(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str,
    out_col: str = "weight",
) -> DataFrame:
    """Duplicate-aware SOFT dedup: downweight instead of drop. Each
    doc gets `out_col` = 1 / |its duplicate cluster| (6 dp), so a
    weighted sampler (`sample_weighted`, mixture allocation)
    sees each piece of CONTENT once in expectation while every
    variant stays available — the alternative to hard removal when
    near-dup variants carry signal (formatting, dialect, updates).
    A doc in no candidate pair is its own singleton (weight 1.0).

    Composition over proven parts: `connected_components` over ANY
    miner's candidate pair table (minhash / simhash / n-gram /
    semantic pairs all plug in) with the full corpus as vertices,
    cluster sizes from one count, weights joined back id-keyed.
    Cluster count tables are near-dup-bounded and the join is
    AQE-broadcastable; nothing corpus-sized sits on the driver.
    Returns df + out_col, one row per input row.

    Pairs mined from a SUPERSET of `df` are safe (r14 ADVICE): both
    endpoints are semi-joined to df's ids first, so absent vertices
    can neither inflate cluster sizes nor deflate weights. `df`
    itself must carry unique non-NULL ids — a duplicated id would
    double-count in its cluster's size (and fan out the join-back);
    that precondition is the caller's, same as every id-keyed dedup
    op in this module."""
    ids = df.select(F.col(id_col).alias("id"))
    # plain shuffle semi-joins (pairs are near-dup-bounded, ids are
    # corpus-sized — never broadcast the corpus side; AQE may still
    # broadcast the PAIRS side when it is tiny)
    pruned = (
        pairs.join(ids, F.col("id_a") == F.col("id"), "leftsemi")
        .join(ids, F.col("id_b") == F.col("id"), "leftsemi")
    )
    cc = connected_components(pruned, vertices=ids)
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("_csize")
    )
    w = cc.join(sizes, "cluster_id").select(
        F.col("id").alias(id_col),
        F.round(F.lit(1.0) / F.col("_csize"), 6).alias(out_col),
    )
    return df.join(w, id_col, "left")
