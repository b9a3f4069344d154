"""Deduplication operators for training-data pipelines.

Five families, all expressed as DataFrame plans whose candidate
generation is a *bucketed equi-join* — the only all-pairs comparison
ever materialized is within a bucket.  That is the property that makes
them run at 100 TB: the shuffle key is (band_hash | simhash_band |
ngram | lsh_bucket), never a cross join.

  exact          hash-groupBy on a content fingerprint
  MinHash + LSH  shingle -> K minhashes -> B bands -> band-bucket join
  SimHash        64-bit weighted-projection hash, hamming<=T via band join
  n-gram Jaccard exact Jaccard on shingle sets for candidate pairs
  embedding      cosine near-dup via random-hyperplane LSH buckets
  clusters       connected components over pairs (iterative min-label
                 propagation) + dedup_apply (keep one per cluster)

Everything is seeded/deterministic (xxhash64 with fixed salts).
"""

from __future__ import annotations

from dbt_lab_spark.localrel import local_df

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbt_lab_spark.functions.text import fingerprint, shingles
from dbt_lab_spark.functions.vectors import cosine_similarity, to_double_array


def _parallelize(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the source has fewer partitions than
    the cluster has slots (e.g. one small parquet file) so the per-row
    heavy maps (shingling, token hashing) don't run serially.  At real
    scale the source already has enough partitions and this is a no-op.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, par // 2):
        return df.repartition(par)
    return df


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact content.  One shuffle
    on the 128-bit fingerprint; partial aggregation makes the map side
    collapse duplicates early."""
    fp = df.select(F.col(id_col), fingerprint(text_col).alias("__fp"))
    keep = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), on=id_col, how="inner")


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Duplicate-group summary: fingerprint, representative id, copy count."""
    return (
        df.select(fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(id_col).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _base_hash(col: str, base_hash: str) -> Column:
    """31-bit-domain base hash of a string column.

    'xxhash64' (default): fastest, JVM-side, Spark-specific.
    'md5': standard MD5 truncated to 15 hex chars (60 bits) — bit-exact
    reproducible by ANY engine with an md5() (DuckDB included), which
    is what upgrades the minhash family from rows-only checks to full
    value-hash oracles.
    """
    p31 = (1 << 31) - 1
    if base_hash == "xxhash64":
        return F.pmod(F.xxhash64(col), F.lit(p31))
    if base_hash == "md5":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long") % F.lit(p31)
    raise ValueError(f"unknown base_hash {base_hash!r} (xxhash64|md5)")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 5,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per document: array of `num_hashes` min-values
    of seeded rehashes of the document's shingle hashes.

    Shape: explode shingles -> ONE string hash each -> a single
    hash-aggregate pass computing all K minima.  Partial aggregation
    collapses the shingle blow-up map-side, so the shuffle carries
    |docs| x K longs regardless of document length — the same scale
    shape as a distributed word count.  (A pure array-expression
    variant hits Catalyst's CollapseProject duplicating the
    shingle-hash array into all K min-expressions.)

    The K permutations are the classic universal family
    (a_i*h + b_i) mod p over a 31-bit hash domain (p = 2^31-1, seeded
    constants < p): products stay below 2^62, so the arithmetic is
    exact under ANSI mode, and a mul+add+mod per element costs a
    fraction of a per-element hash call.  31-bit minhash values lose
    nothing here — ties across K independent permutations are what
    matters, and P(tie per perm) is ~2^-31 per shingle pair.
    """
    import random as _random

    p31 = (1 << 31) - 1
    rng = _random.Random(0xD5B7)
    consts = [
        (rng.randrange(1, p31), rng.randrange(p31)) for _ in range(num_hashes)
    ]
    exploded = _parallelize(df).select(
        F.col(id_col), F.explode(shingles(text_col, shingle_k)).alias("__s")
    ).select(F.col(id_col), _base_hash("__s", base_hash).alias("__h"))
    # K permutation-min aggregates as parsed SQL strings: one py4j
    # round-trip per expression instead of ~8 Column-op calls each —
    # the plan-build time drops ~3x (r10 opt, driver overhead that is
    # paid on every build at any scale).  The parsed tree is the same
    # arithmetic (INT literals a,b,p31 < 2^31; __h * INT promotes to
    # BIGINT exactly as F.lit did), so results are bit-identical.
    mins = exploded.groupBy(id_col).agg(
        *[
            F.expr(f"min((__h * {a} + {b}) % {p31})").alias(f"__m{i}")
            for i, (a, b) in enumerate(consts)
        ]
    )
    return mins.select(
        F.col(id_col),
        F.expr(
            "array(" + ", ".join(f"__m{i}" for i in range(num_hashes)) + ")"
        ).alias("signature"),
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Candidate pairs via banding: hash each band of the signature to a
    bucket, self-join on (band, bucket).  Output: (id_a, id_b) with
    id_a < id_b, distinct.

    Scale shape: explode to B rows/doc, shuffle on the band bucket
    (short, well-distributed keys), join within buckets only.

    `max_bucket_size` is the hot-bucket guard for corpus scale: a
    degenerate bucket of B docs (boilerplate, empty docs) emits B²
    pairs and one straggler task.  Buckets above the cap are dropped
    BEFORE the self-join (one extra count aggregation on the same
    shuffle key).  Recall note: members of a dropped bucket usually
    still collide in another of the B bands; true near-dup pairs lost
    this way are pairs agreeing ONLY in mega-buckets — at that bucket
    size they are boilerplate, which is exactly what you de-prioritize
    at 100 TB.  Default None preserves exact LSH semantics.
    """
    def band_key(b: int) -> str:
        items = [
            f"signature[{b * rows_per_band + r}]" for r in range(rows_per_band)
        ]
        if base_hash == "md5":
            # oracle-replicable bucket: md5 of 'v0|v1|...|b'
            cast = ", ".join(f"CAST({it} AS STRING)" for it in items)
            return f"md5(concat_ws('|', {cast}, '{b}'))"
        # long keys (production default)
        return f"xxhash64({', '.join(items)}, {b})"

    bands = signatures.select(
        F.col(id_col),
        F.expr(
            "posexplode(array("
            + ", ".join(band_key(b) for b in range(num_bands))
            + "))"
        ).alias("band", "bucket"),
    )
    if max_bucket_size is not None:
        sizes = bands.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("__bsz"))
        bands = bands.join(
            sizes.filter(F.col("__bsz") <= max_bucket_size).select("band", "bucket"),
            on=["band", "bucket"],
        )
    left = bands.select(F.col(id_col).alias("id_a"), "band", "bucket")
    right = bands.select(F.col(id_col).alias("id_b"), "band", "bucket")
    pairs = left.join(right, on=["band", "bucket"]).filter(F.col("id_a") < F.col("id_b"))
    return pairs.select("id_a", "id_b").distinct()


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 5,
    num_bands: int = 16,
    threshold: float = 0.7,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """End-to-end near-dup pairs: MinHash LSH candidates verified by
    estimated Jaccard (signature agreement rate) >= threshold.
    Returns (id_a, id_b, est_jaccard).

    base_hash='md5' makes every stage (shingle hash, permutations, band
    buckets) bit-exact reproducible in plain SQL by any md5-capable
    engine — the DuckDB-oracle-checkable variant; 'xxhash64' is the
    faster production default."""
    rows_per_band = num_hashes // num_bands
    # minhash_signatures ends in a groupBy(id) exchange: that shuffle
    # boundary parallelizes downstream work even for single-file input
    # and lets ReusedExchange share the signatures across the three
    # consumers below (candidates + both verify sides).
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k, base_hash)
    cand = minhash_lsh_candidates(sigs, id_col, num_bands, rows_per_band,
                                  base_hash=base_hash)
    a = sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    b = sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    verified = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "est_jaccard",
            F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
            / F.lit(float(num_hashes)),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "est_jaccard")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document: sign-sum of per-token hash bits.

    Shape: explode tokens -> xxhash64 -> ONE hash-aggregate pass with 64
    per-bit +/-1 sums (partial aggregation collapses the token blow-up
    map-side, so the shuffle carries |docs| x 64 ints regardless of
    document length) -> sign vector packed into a signed bigint.

    base_hash='md5' draws bits from md5's first 60 bits instead of
    xxhash64 (bits <= 60 then) — every stage becomes plain-SQL
    reproducible, the DuckDB-oracle-checkable variant.
    """
    if base_hash == "md5" and bits > 60:
        raise ValueError("md5 base hash provides 60 usable bits")
    toks = F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("__tok")
    if base_hash == "md5":
        h = F.conv(F.substring(F.md5("__tok"), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64("__tok")
    hashed = _parallelize(df).select(F.col(id_col), toks).select(
        F.col(id_col), h.alias("__h")
    )
    # Per-bit sums and the sign-bit pack as parsed SQL strings: the
    # Column-op spelling cost ~0.7 s of py4j round-trips PER BUILD
    # (60 nested when/shiftright aggregates + a 60-deep bitwiseOR
    # chain); the parsed trees are identical arithmetic (CASE == when/
    # otherwise; shiftleft(1L, 63) IS the negative two's-complement
    # mask), so hashes are bit-identical (r10 opt, driver overhead).
    bit_sums = hashed.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(__h, {b}) & 1) = 1 "
                "THEN 1 ELSE -1 END)"
            ).alias(f"__b{b}")
            for b in range(bits)
        ]
    )
    packed = F.expr(
        " | ".join(
            f"(CASE WHEN __b{b} > 0 THEN shiftleft(CAST(1 AS BIGINT), {b}) "
            "ELSE CAST(0 AS BIGINT) END)"
            for b in range(bits)
        )
    )
    return bit_sums.select(F.col(id_col), packed.alias("simhash"))


def _hamming64(a: Column, b: Column) -> Column:
    """Popcount of xor via bit_count (Spark 3.3+)."""
    return F.bit_count(a.bitwiseXOR(b))


def _hash_bands(
    df: DataFrame, id_col: str, hash_col: str, n_bands: int, out_id: str, out_hash: str
) -> DataFrame:
    """(out_id, out_hash, band, key): one row per disjoint band of
    64 // n_bands bits of the 64-bit `hash_col` — the pigeonhole index
    `hamming_join` and `hamming_topk` equi-join on (band, key)."""
    width = 64 // n_bands
    return df.select(
        F.col(id_col).alias(out_id),
        F.col(hash_col).alias(out_hash),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(hash_col), b * width).bitwiseAND(
                        F.lit((1 << width) - 1).cast("long")
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "key"),
    )


def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Candidate generation: split the 64-bit hash into (max_hamming+1)
    16-bit bands — by pigeonhole, any pair within distance max_hamming
    agrees on at least one band — then equi-join per band and verify
    exact hamming.  Returns (id_a, id_b, hamming).
    """
    n_bands = max_hamming + 1  # 4 bands of 16 bits for the default
    width = 64 // n_bands
    sh = simhash(df, text_col, id_col)
    bands = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * width).bitwiseAND(
                        F.lit((1 << width) - 1).cast("long")
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "key"),
    )
    left = bands.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "band", "key"
    )
    right = bands.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "band", "key"
    )
    pairs = (
        left.join(right, on=["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _hamming64(F.col("sh_a"), F.col("sh_b")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def hamming_dedup_pairs(
    df: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs with hamming(hash) <= max_hamming over ANY 64-bit
    hash column — the pigeonhole banding of simhash_dedup_pairs,
    factored out so other hash planes (image dHash/pHash in
    llm/imagededup.py) reuse it.

    Candidate generation: split the 64 bits into (max_hamming+1)
    DISJOINT bands of floor(64/(h+1)) bits; if two hashes differ in at
    most h bits, at most h bands are touched, so at least one band
    matches exactly — a per-band equi-join finds every qualifying pair
    (recall 1.0 BY CONSTRUCTION, unlike probabilistic minhash banding),
    and exact bit_count verification removes band-collision false
    positives.  Bits beyond n_bands*width are uncovered, which only
    ever ADDS candidates' differing bits outside all bands — the
    guarantee is unaffected.  Returns (id_a, id_b, hamming).

    Scale shape: one explode to h+1 rows/hash, one shuffle on
    (band, key), within-bucket joins only — never all-pairs; a hot
    bucket means genuinely near-identical content, which is exactly
    what downstream clustering collapses.

    `max_bucket_size` is the hot-band guard for corpus scale (r6,
    DEDUP_SCALE_r6): a (band, key) bucket of B rows emits B^2 candidate
    rows — a mass-duplicated asset (stock logo, silence clip, test
    pattern) turns one bucket into the whole job.  Buckets above the
    cap are dropped BEFORE the join, the minhash-LSH cap pattern.
    Unlike there, the pigeonhole guarantee degrades gracefully: a pair
    within the radius that collides in a dropped band is still found
    through any of its other matching bands, so only content hot in
    EVERY matching band (near-exact mass duplicates — exact_dedup's
    job) can lose recall.  Default None = exact recall-1.0 contract
    (what every oracle-backed query uses)."""
    n_bands = max_hamming + 1
    width = 64 // n_bands
    bands = df.select(
        F.col(id_col),
        F.col(hash_col).alias("__h"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(hash_col), b * width).bitwiseAND(
                        F.lit((1 << width) - 1).cast("long")
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "key"),
    )
    if max_bucket_size is not None:
        sizes = bands.groupBy("band", "key").agg(F.count(F.lit(1)).alias("__bsz"))
        bands = bands.join(
            sizes.filter(F.col("__bsz") <= max_bucket_size).select("band", "key"),
            on=["band", "key"],
        )
    left = bands.select(F.col(id_col).alias("id_a"), F.col("__h").alias("h_a"), "band", "key")
    right = bands.select(F.col(id_col).alias("id_b"), F.col("__h").alias("h_b"), "band", "key")
    return (
        left.join(right, on=["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _hamming64(F.col("h_a"), F.col("h_b")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def hamming_join(
    left: DataFrame,
    right: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Cross-frame hamming join: every (id_l, id_r, hamming) pair with
    hamming <= max_hamming between TWO hash sets — the two-sided twin
    of `hamming_dedup_pairs` (same pigeonhole bands, recall 1.0 by
    construction, exact bit_count verify; no id ordering is applied —
    callers normalize if the sets overlap).

    This is the primitive INCREMENTAL dedup maintenance is built on:
    band the new batch against the standing hash index instead of
    re-deduping the corpus — per-batch cost is O(batch-vs-bucket), not
    O(corpus^2)."""
    n_bands = max_hamming + 1
    lb = _hash_bands(left, id_col, hash_col, n_bands, "id_l", "h_l")
    rb = _hash_bands(right, id_col, hash_col, n_bands, "id_r", "h_r")
    return (
        lb.join(rb, on=["band", "key"])
        .select(
            "id_l",
            "id_r",
            _hamming64(F.col("h_l"), F.col("h_r")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def incremental_dedup_pairs(
    batch: DataFrame,
    index: DataFrame | None,
    hash_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs CONTRIBUTED by a new batch against a standing
    corpus: within-batch pairs plus batch-vs-index pairs, normalized to
    id_a < id_b.  Maintaining dedup state incrementally — append the
    batch's hashes to the index (e.g. a SnapshotTable) after calling —
    yields EXACTLY the one-shot pair set over the union, batch by
    batch (each unordered pair {i, j} is emitted exactly once: by the
    batch that completes it), at per-batch cost.  The equivalence is
    proven in-engine by q_dedup_incremental's symmetric-difference
    oracle."""
    within = hamming_dedup_pairs(
        batch, hash_col=hash_col, id_col=id_col, max_hamming=max_hamming
    )
    if index is None:
        return within
    cross = (
        hamming_join(
            batch, index, hash_col=hash_col, id_col=id_col, max_hamming=max_hamming
        )
        # An id delivered in both the batch and the standing index
        # (duplicate delivery that isn't a batch_id replay) would join
        # with itself into a degenerate (id, id, 0) self-pair.
        .filter(F.col("id_l") != F.col("id_r"))
        .select(
            F.least(F.col("id_l"), F.col("id_r")).alias("id_a"),
            F.greatest(F.col("id_l"), F.col("id_r")).alias("id_b"),
            "hamming",
        )
    )
    return within.unionByName(cross).distinct()


def streaming_dedup_sink(
    index_table,
    pairs_table,
    hash_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
):
    """foreachBatch sink for CONTINUOUS dedup: each micro-batch of
    hashes is banded against the standing index (`hamming_join` via
    `incremental_dedup_pairs`), the new near-dup pairs are committed to
    `pairs_table`, and the batch's hashes are appended to
    `index_table` — both plans/snapshots.SnapshotTable, so the pair
    log and the index are themselves versioned, time-travelable
    tables and replayed batches commit exactly once
    (append_stream_batch's batch_id dedup).

    This is the arrival-time shape of the batch equivalence theorem
    q_dedup_incremental proves: after any prefix of batches, the pair
    log EQUALS the one-shot dedup over the rows seen so far (pinned
    end-to-end in tests/test_wave33.py with a real readStream).

    Use:  stream.writeStream.foreachBatch(
              streaming_dedup_sink(index, pairs, hash_col="h"))
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        index_has_commits = bool(index_table.versions())
        index = index_table.read(spark) if index_has_commits else None
        new_pairs = incremental_dedup_pairs(
            batch_df,
            index,
            hash_col=hash_col,
            id_col=id_col,
            max_hamming=max_hamming,
        )
        # pairs BEFORE index, both idempotent on batch_id: a replay
        # after a crash between the two commits recomputes the same
        # pair set (the index still lacks this batch), the pairs
        # append no-ops, and the index append completes — no pair is
        # lost or doubled under at-least-once redelivery.
        pairs_table.append_stream_batch(new_pairs, batch_id)
        index_table.append_stream_batch(
            batch_df.select(id_col, hash_col), batch_id
        )

    return _sink


def hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    k: int = 10,
    radius: int = 6,
) -> DataFrame:
    """Radius-bounded top-k retrieval over a 64-bit hash plane: for
    each query hash, the k nearest corpus hashes within hamming <=
    `radius`, ranked by (hamming, corpus id) — perceptual-hash image /
    audio-fingerprint search, the retrieval twin of
    `hamming_dedup_pairs`.

    Same pigeonhole index: corpus and queries are banded into radius+1
    disjoint bands; a per-(band, key) equi-join yields every corpus
    hash within the radius of every query (recall 1.0 inside the
    radius, BY CONSTRUCTION), exact bit_count ranks them, one window
    takes k per query.  A query with fewer than k in-radius neighbors
    returns what exists — radius-bounded search, the standard
    LSH-retrieval contract.

    Scale shape: the index explode is radius+1 rows per corpus hash —
    built once per (corpus, radius) and shuffled on (band, key); query
    fan-out is radius+1 rows per query.  Corpus self-matches are not
    excluded: pass queries with ids disjoint from the corpus, or drop
    hamming=0 rows downstream if the query set IS the corpus.

    Returns (query_id, neighbor_id, hamming, rank)."""
    from pyspark.sql.window import Window

    n_bands = radius + 1
    qb = _hash_bands(queries, id_col, hash_col, n_bands, "query_id", "h_q")
    cb = _hash_bands(corpus, id_col, hash_col, n_bands, "neighbor_id", "h_c")
    cand = (
        qb.join(cb, on=["band", "key"])
        .select(
            "query_id",
            "neighbor_id",
            _hamming64(F.col("h_q"), F.col("h_c")).alias("hamming"),
        )
        .filter(F.col("hamming") <= radius)
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, for candidate pairs)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard verification of candidate (id_a, id_b) pairs.

    Jaccard = |A ∩ B| / |A ∪ B| over distinct word k-grams, computed
    with array_intersect/array_union — JVM-side, per-pair.  Use after
    any LSH candidate stage; never on all pairs.
    """
    sh = df.select(
        F.col(id_col), F.array_distinct(shingles(text_col, shingle_k)).alias("__sh")
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"))
    out = (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "jaccard")


def ngram_jaccard_all_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard >= threshold via the inverted-index
    count trick: any qualifying pair shares a shingle, and because the
    shingle sets are distinct, the number of (shingle-join) matches per
    pair IS |A ∩ B| — so Jaccard = c / (|A| + |B| - c) without ever
    joining the shingle arrays themselves.

    Scale shape: shuffle 1 = explode + join on shingle (the inverted
    index); shuffle 2 = count per (id_a, id_b) with map-side partial
    aggregation collapsing hot shingles' repeats.  Set sizes broadcast.

    `max_doc_freq` bounds common-shingle skew, the one thing that can
    blow this up (a shingle in k docs emits k^2 candidate pairs — on a
    boilerplate-heavy corpus one hot shingle alone is quadratic):
    shingles appearing in more than `max_doc_freq` docs are dropped
    from the INVERTED INDEX ONLY, capping per-shingle pair emission at
    max_doc_freq^2 (and hot shingles number at most
    total_postings/max_doc_freq, so their id set broadcasts).
    Surviving candidates are then re-verified EXACTLY on the full
    shingle arrays (array_intersect — hot shingles still count toward
    the reported Jaccard), so every returned value is exact; the only
    possible loss is a pair whose shared shingles are ALL hot, which at
    threshold t requires >= t/(1+t)*(|A|+|B|) distinct shingles each in
    > max_doc_freq docs — vanishingly unlikely off boilerplate, and
    boilerplate is what the cap is for.  Default None = fully exact.
    At corpus scale feed candidates from MinHash-LSH into
    ngram_jaccard_pairs instead; this operator is the exact baseline.
    """
    sh = _parallelize(df).select(
        F.col(id_col), F.array_distinct(shingles(text_col, shingle_k)).alias("__sh")
    )
    # 64-bit shingle keys: the inverted-index shuffle moves longs, not
    # ~20-byte strings (collision odds across ~1e6 distinct shingles are
    # ~1e-8 — far below any float tolerance in play).  Set size rides
    # along so the ratio prune needs no extra join.
    ex = sh.select(
        F.col(id_col),
        F.size("__sh").alias("__n"),
        F.explode(F.transform("__sh", lambda s: F.xxhash64(s))).alias("__g"),
    )
    if max_doc_freq is not None:
        hot = (
            ex.groupBy("__g")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_doc_freq)
            .select("__g")
        )
        ex = ex.join(F.broadcast(hot), on="__g", how="left_anti")
    a = ex.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"), "__g")
    b = ex.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"), "__g")
    # size-ratio prune BEFORE pair counting: J >= t implies
    # t*max(|A|,|B|) <= min(|A|,|B|) — drops hopeless pairs pre-agg.
    joined = a.join(b, on="__g").filter(
        (F.col("id_a") < F.col("id_b"))
        & (F.col("__na") * threshold <= F.col("__nb"))
        & (F.col("__nb") * threshold <= F.col("__na"))
    )
    if max_doc_freq is not None:
        # capped index undercounts |A ∩ B| by the dropped hot shingles,
        # so candidates are re-verified exactly on the full arrays
        cand = joined.select("id_a", "id_b").distinct()
        return ngram_jaccard_pairs(df, cand, text_col, id_col, shingle_k, threshold)
    shared = joined.groupBy("id_a", "id_b", "__na", "__nb").agg(
        F.count(F.lit(1)).alias("__c")
    )
    out = shared.withColumn(
        "jaccard",
        F.col("__c") / (F.col("__na") + F.col("__nb") - F.col("__c")).cast("double"),
    ).filter(F.col("jaccard") >= threshold)
    return out.select("id_a", "id_b", "jaccard")


def containment_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact shingle CONTAINMENT verification of candidate (id_a, id_b)
    pairs: c = |A ∩ B| over distinct word k-grams via array_intersect,
    reported both directions (c/|A|, c/|B|), kept when max >= threshold.
    The asymmetric companion to ngram_jaccard_pairs — a snippet embedded
    in a larger page scores ~1.0 here where Jaccard under-scores it."""
    sh = df.select(
        F.col(id_col), F.array_distinct(shingles(text_col, shingle_k)).alias("__sh")
    )
    a = sh.select(
        F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a")
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b")
    )
    out = (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size("sh_a").cast("double")
            ).alias("containment_a_in_b"),
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size("sh_b").cast("double")
            ).alias("containment_b_in_a"),
        )
        .filter(
            F.greatest("containment_a_in_b", "containment_b_in_a") >= threshold
        )
    )
    return out


def containment_all_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.6,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """EXACT all-pairs shingle containment (|A ∩ B|/|A| and /|B|, kept
    when either direction >= threshold) via the same inverted-index
    count trick as ngram_jaccard_all_pairs — per-pair join-match count
    IS the intersection; set sizes ride along — but WITHOUT the
    symmetric size-ratio prune, because small-inside-big is the point.

    `max_doc_freq` is the corpus-scale skew cap (VERDICT r4 #3): a
    boilerplate shingle in k docs emits k² candidate pairs, so shingles
    in more than max_doc_freq docs are dropped from the INVERTED INDEX
    ONLY (hot-id set broadcasts), and surviving candidates are
    re-verified EXACTLY on the full shingle arrays via
    containment_pairs — hot shingles still count toward the reported
    values, so every returned number is exact.  The only possible loss
    is a pair whose shared shingles are ALL hot (see the jaccard
    operator's bound).  Default None = fully exact, no cap.

    Scale shape: shuffle 1 = explode + join on 64-bit shingle keys;
    shuffle 2 = pair count with map-side partial agg; cap path adds one
    doc-freq aggregate + a broadcast anti-join + the candidate
    re-verify joins."""
    sh = _parallelize(df).select(
        F.col(id_col), F.array_distinct(shingles(text_col, shingle_k)).alias("__sh")
    )
    ex = sh.select(
        F.col(id_col),
        F.size("__sh").alias("__n"),
        F.explode(F.transform("__sh", lambda s: F.xxhash64(s))).alias("__g"),
    )
    if max_doc_freq is not None:
        hot = (
            ex.groupBy("__g")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_doc_freq)
            .select("__g")
        )
        # Hot-empty shortcut (r5 bench finding: the re-verify joins cost
        # ~3x on corpora with NO hot shingles, i.e. most of them): one
        # bounded limit(1) probe decides the plan.  No hot shingles ->
        # the inverted-index counts are already exact, take the cheap
        # count-trick path below; hot shingles exist -> capped index +
        # exact array re-verify.
        if not hot.limit(1).count():
            max_doc_freq = None
        else:
            ex = ex.join(F.broadcast(hot), on="__g", how="left_anti")
    a = ex.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"), "__g")
    b = ex.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"), "__g")
    joined = a.join(b, on="__g").filter(F.col("id_a") < F.col("id_b"))
    if max_doc_freq is not None:
        cand = joined.select("id_a", "id_b").distinct()
        return containment_pairs(df, cand, text_col, id_col, shingle_k, threshold)
    shared = joined.groupBy("id_a", "id_b", "__na", "__nb").agg(
        F.count(F.lit(1)).alias("__c")
    )
    out = shared.select(
        "id_a",
        "id_b",
        (F.col("__c") / F.col("__na").cast("double")).alias("containment_a_in_b"),
        (F.col("__c") / F.col("__nb").cast("double")).alias("containment_b_in_a"),
    ).filter(
        F.greatest("containment_a_in_b", "containment_b_in_a") >= threshold
    )
    return out


def ngram_jaccard_ppjoin(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard via PPJoin-style PREFIX FILTERING
    (Bayardo et al. WWW'07 All-Pairs / Xiao et al. PPJoin): index only
    each document's prefix — its |d| - ceil(t*|d|) + 1 RAREST shingles
    under one global (doc-frequency, key) order — then verify every
    candidate on the full shingle arrays.

    Why this beats the plain inverted index under skew: a boilerplate
    shingle shared by k docs sits LAST in the global order, so it
    enters almost no prefixes and emits ~0 candidate pairs instead of
    k²; the quadratic blowup the `max_doc_freq` cap in
    `ngram_jaccard_all_pairs` merely bounds is eliminated STRUCTURALLY,
    and — unlike the cap — with zero recall caveat: the prefix theorem
    guarantees any pair with J >= t shares at least one prefix shingle
    (if none of x's prefix appeared in y, the overlap is at most
    min(ceil(t|x|)-1, |y|) < the required t/(1+t)(|x|+|y|)).

    Scale shape: shuffle 1 = doc-frequency aggregate; shuffle 2 = one
    per-doc window (~|d| rows each) to rank shingles; shuffle 3 = the
    prefix self-join (carrying 64-bit keys); exact verify joins the
    full arrays only for surviving candidates.  Results are
    bit-identical to `ngram_jaccard_all_pairs(max_doc_freq=None)`.
    """
    from pyspark.sql.window import Window

    sh = _parallelize(df).select(
        F.col(id_col), F.array_distinct(shingles(text_col, shingle_k)).alias("__sh")
    )
    ex = sh.select(
        F.col(id_col),
        F.size("__sh").alias("__n"),
        F.explode(F.transform("__sh", lambda s: F.xxhash64(s))).alias("__g"),
    )
    freq = ex.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
    ranked = ex.join(freq, "__g").withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy(F.asc("__df"), F.asc("__g"))
        ),
    )
    # Jaccard prefix length: |d| - ceil(t*|d|) + 1
    prefix = ranked.filter(
        F.col("__rn") <= F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1
    )
    a = prefix.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"), "__g")
    b = prefix.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"), "__g")
    cand = (
        a.join(b, "__g")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("__na") * threshold <= F.col("__nb"))
            & (F.col("__nb") * threshold <= F.col("__na"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # exact verify on 64-bit hash arrays (same keys the index used):
    # array_intersect on longs beats the string-array form ~2x, and the
    # collision exposure is identical to the index join's
    hs = sh.select(
        F.col(id_col),
        F.transform("__sh", lambda s: F.xxhash64(s)).alias("__hs"),
        F.size("__sh").alias("__n"),
    )
    va = hs.select(F.col(id_col).alias("id_a"), F.col("__hs").alias("hs_a"), F.col("__n").alias("__na"))
    vb = hs.select(F.col(id_col).alias("id_b"), F.col("__hs").alias("hs_b"), F.col("__n").alias("__nb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("__c", F.size(F.array_intersect("hs_a", "hs_b")))
        .withColumn(
            "jaccard",
            F.col("__c") / (F.col("__na") + F.col("__nb") - F.col("__c")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 8,
    min_docs: int = 2,
    winnow_w: int | None = None,
) -> DataFrame:
    """Cross-document duplicated token SPANS — substring-level exact
    dedup in the spirit of Lee et al. 2022 (arXiv:2107.06499:
    deduplicating repeated passages, not whole documents).  Every
    `span_tokens`-token window is Rabin-Karp fingerprinted
    (functions/text.rolling_hashes — exact integer arithmetic, so the
    DuckDB oracle reproduces every hash); spans appearing in >=
    `min_docs` distinct documents are reported with occurrence counts.

    Scale shape: explode to one row per window, ONE hash-aggregate
    shuffle on the span fingerprint with map-side partial aggregation —
    the distributed word-count shape; output is bounded by the number
    of *duplicated* spans.  The shuffle carries ~16 bytes per token
    (every window's (fp, doc_id)) — linear and uniformly keyed, but
    ~2-3x the corpus text bytes.  `winnow_w` is the scale lever: keep
    only each w-window's MINIMUM fingerprint (Schleimer et al. MOSS
    winnowing, functions/text.winnow), cutting the shuffle ~w/2x while
    GUARANTEEING any shared run of >= span_tokens + w - 1 tokens still
    collides on at least one selected fingerprint.  Under winnowing,
    n_occurrences counts selected windows (a lower bound), and spans
    shorter than the guarantee can be missed; the exact default is the
    audit baseline.  Downstream, a pipeline joins these fingerprints
    back to cut or mask the repeated passages."""
    from dbt_lab_spark.functions.text import rolling_hashes, winnow

    hashes = rolling_hashes(text_col, k=span_tokens)
    if winnow_w is not None:
        hashes = winnow(hashes, w=winnow_w)
    rh = _parallelize(df).select(
        F.col(id_col), F.explode(hashes).alias("fp")
    )
    return (
        rh.groupBy("fp")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(id_col).alias("min_doc_id"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def embedding_dedup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 12,
    num_tables: int = 4,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold.

    Candidate generation: random-hyperplane LSH with OR-amplification —
    `num_tables` independent bucket keys, each the sign bits of
    `num_planes` fixed pseudo-random projections; a pair is a candidate
    if it collides in ANY table.  Collision probability per table is
    (1 - theta/pi)^planes, so recall ≈ 1 - (1 - p)^tables — tunable on
    both axes.  Exact cosine verification follows on the deduplicated
    candidate set.  Scale shape: explode to `num_tables` rows/vector,
    shuffle on (table, bucket), join within buckets only — no cross join.

    ``dim`` defaults to the first vector's length (one tiny LIMIT-1
    job).  Vectors of a different length are dropped before bucketing —
    a zip_with over a mismatched length null-pads, every plane dot goes
    NULL, and all keys would collapse into one quadratic bucket.
    """
    v = to_double_array(vec_col)
    if dim is None:
        first = df.select(F.size(v).alias("d")).filter(F.col("d").isNotNull()).limit(1).collect()
        if not first:
            dim = 1  # empty input: any dim yields an empty result
        else:
            dim = int(first[0]["d"])
    df = df.filter(F.size(v) == dim)

    # Deterministic pseudo-random plane p[t][j][i] from xxhash64(seed,t,j,i),
    # mapped to [-1, 1).  Stays JVM-side via transform over the vector.
    def plane_dot(t: int, j: int) -> Column:
        return F.aggregate(
            F.zip_with(
                v,
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda x, i: x
                * (
                    (F.xxhash64(F.lit(seed), F.lit(t), F.lit(j), i) % 20001).cast("double")
                    / 10000.0
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def table_bucket(t: int) -> Column:
        return F.concat_ws(
            "",
            *[
                F.when(plane_dot(t, j) >= 0, F.lit("1")).otherwise(F.lit("0"))
                for j in range(num_planes)
            ],
        )

    bucketed = df.select(
        F.col(id_col),
        F.posexplode(F.array(*[table_bucket(t) for t in range(num_tables)])).alias(
            "__table", "__bucket"
        ),
    )
    left = bucketed.select(F.col(id_col).alias("id_a"), "__table", "__bucket")
    right = bucketed.select(F.col(id_col).alias("id_b"), "__table", "__bucket")
    cand = (
        left.join(right, on=["__table", "__bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = df.select(F.col(id_col).alias("id_a"), v.alias("v_a"))
    b = df.select(F.col(id_col).alias("id_b"), v.alias("v_b"))
    pairs = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cosine", cosine_similarity(F.col("v_a"), F.col("v_b")))
        .filter(F.col("cosine") >= threshold)
    )
    return pairs.select("id_a", "id_b", "cosine")


# ---------------------------------------------------------------------------
# duplicate clusters: connected components + apply
# ---------------------------------------------------------------------------


def _checkpointer(df: DataFrame, checkpoint_dir: str | None):
    """Return a lineage-truncation function: localCheckpoint (fast,
    executor-memory blocks) when no dir is given, reliable checkpoint
    (durable files under `checkpoint_dir`) when one is."""
    if checkpoint_dir is None:
        return lambda d: d.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    sc.setCheckpointDir(checkpoint_dir)
    return lambda d: d.checkpoint(eager=True)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    strict: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs by min-label propagation
    — turns pairwise matches into dedup clusters (a near-dup of a
    near-dup is the same document family even if the pair itself was
    never emitted).

    Iterative DataFrame algorithm (the engine's iterative-computation
    surface).  Each round does (1) min-label exchange with neighbors and
    (2) a pointer-jumping shortcut (component := component's component,
    i.e. path halving), so convergence is O(log diameter) rounds rather
    than O(diameter) — a 1000-link duplicate chain converges in ~10
    rounds instead of silently hitting the iteration cap.  Per round:
    two key shuffles; lineage is truncated with localCheckpoint so plans
    don't grow; convergence is checked with a count() action on the
    same pass.

    Iteration/checkpoint policy (scale contract): `max_iter` bounds
    wall-clock; with the shortcut step, max_iter=20 covers any diameter
    up to ~2^20, far beyond real near-dup clusters.  If the cap is
    still hit without convergence, a RuntimeError is raised rather than
    returning silently-partial clusters (set strict=False to accept
    best-effort labels).  Returns (id, component) where component = min
    id in the component.

    Executor-loss contract: by default rounds are truncated with
    localCheckpoint — blocks live in executor memory, so losing an
    executor mid-iteration loses blocks that have NO lineage to rebuild
    from and fails the job.  Pass `checkpoint_dir=` (an HDFS/object
    store path on a real cluster) to switch every round to a RELIABLE
    checkpoint: round state is written to durable files, and executor
    loss only re-reads them.  The per-round write is O(|labels|) — the
    right trade on any long-running 100 TB dedup job.
    """
    ckpt = _checkpointer(pairs, checkpoint_dir)
    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
    edges = ckpt(edges.distinct())
    labels = ckpt(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy("dst")
            .agg(F.min("component").alias("__nmin"))
        )
        stepped = (
            labels.join(neighbor_min, labels.id == neighbor_min.dst, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("__nmin"), F.col("component"))
                ).alias("component"),
                (F.col("__nmin") < F.col("component")).alias("__changed"),
            )
        )
        # pointer-jumping shortcut (path halving): follow the current
        # label one hop — component := label(component).  Turns linear
        # chains into O(log diameter) convergence.
        parents = stepped.select(
            F.col("id").alias("__pid"), F.col("component").alias("__pcomp")
        )
        new_labels = (
            stepped.join(parents, stepped.component == parents.__pid, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("__pcomp"), F.col("component"))
                ).alias("component"),
                (
                    F.col("__changed") | (F.col("__pcomp") < F.col("component"))
                ).alias("__changed"),
            )
        )
        new_labels = ckpt(new_labels)
        changed = new_labels.filter(F.col("__changed")).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            converged = True
            break
    if not converged and strict:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter}; "
            "raise max_iter (each round squares the reachable chain length) "
            "or pass strict=False for best-effort labels"
        )
    return labels


def dedup_apply(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Apply near-dup pairs to a corpus: keep one representative (min
    id) per duplicate cluster, pass rows with no duplicates through
    untouched.  The end-to-end dedup step a training pipeline runs after
    MinHash/SimHash candidate + verify stages."""
    comps = connected_components(pairs, id_a, id_b)
    drop = comps.filter(F.col("component") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-style: cluster-partitioned exact cosine)
# ---------------------------------------------------------------------------


def semantic_dedup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_clusters: int = 16,
    threshold: float = 0.97,
    # 2 Lloyd passes: the cluster assignment only PARTITIONS the
    # corpus for within-cluster comparison — identical vectors always
    # co-assign from iteration 0, and measured pair recall is unchanged
    # 2 vs 3 passes while each pass costs a full corpus read.
    iters: int = 2,
    scorer: str = "numpy",
) -> DataFrame:
    """Semantic near-duplicate pairs, SemDeDup-style (Abbas et al. 2023,
    arXiv:2303.09540): partition embeddings with spherical k-means, then
    compare cosine ONLY within a cluster — the all-pairs comparison is
    bounded by the largest cluster, never the corpus.

    Versus the hyperplane-LSH variant (embedding_dedup_pairs): k-means
    adapts bucket boundaries to the data's density, which is the
    published choice for semantic dedup of training corpora; LSH gives
    probabilistic guarantees independent of the distribution.  Both are
    bucketed joins — the scale posture is identical.

    Limitations (documented, inherent to the method): pairs straddling a
    cluster boundary are missed; exact duplicates are always caught
    (identical vectors always co-assign).  At 100 TB pick num_clusters ~
    corpus/5000 so per-cluster self-joins stay bounded, and persist the
    assignment bucketed by cluster.
    """
    from dbt_lab_spark.llm.similarity import (
        _score_pairs_vectorized,
        ivf_assign,
        ivf_centroids,
    )

    probe = df.select(vec_col).first()
    if probe is None:
        # Empty corpus: no pairs by definition; avoid a None-subscript
        # crash and skip the k-means jobs entirely.
        return local_df(df.sparkSession, 
            [], "id_a long, id_b long, cosine double"
        )
    dim = len(probe[0])
    cents = ivf_centroids(df, num_clusters, iters, vec_col, id_col, dim)
    # jvm scorer re-joins RAW vectors: (id, cluster) suffices (guide §4)
    assigned = ivf_assign(df, cents, vec_col, id_col, with_vec=(scorer != "jvm"))
    if scorer == "jvm":
        # Sequential-fold cosine on the RAW vectors: bit-identical to an
        # oracle computing dot/(|a||b|) with the same left-to-right fold
        # (used by the seeded full-oracle query; the numpy path is the
        # throughput default).  Norms are folded ONCE per vector before
        # the self-join — sqrt(dot(a,a)) is the same double whether
        # computed per pair or per row, and the interpreted per-pair
        # work drops from three O(d) folds to one.
        from dbt_lab_spark.functions.vectors import dot, l2_norm

        raw = df.select(
            F.col(id_col),
            to_double_array(vec_col).alias("__raw"),
            l2_norm(to_double_array(vec_col)).alias("__nrm"),
        )
        a = assigned.select(F.col("neighbor_id").alias("id_a"), "cluster").join(
            raw.select(
                F.col(id_col).alias("id_a"),
                F.col("__raw").alias("__va"),
                F.col("__nrm").alias("__na"),
            ),
            "id_a",
        )
        b = assigned.select(F.col("neighbor_id").alias("id_b"), "cluster").join(
            raw.select(
                F.col(id_col).alias("id_b"),
                F.col("__raw").alias("__vb"),
                F.col("__nrm").alias("__nb"),
            ),
            "id_b",
        )
        return (
            a.join(b, on="cluster")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn(
                "cosine",
                dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
            )
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine")
        )
    a = assigned.select(
        F.col("neighbor_id").alias("id_a"), F.col("__cv").alias("__va"), "cluster"
    )
    b = assigned.select(
        F.col("neighbor_id").alias("id_b"), F.col("__cv").alias("__vb"), "cluster"
    )
    cand = (
        a.join(b, on="cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            F.col("id_a").alias("query_id"),
            F.col("id_b").alias("neighbor_id"),
            F.col("__va").alias("__qv"),
            F.col("__vb").alias("__cv"),
        )
    )
    # Arrow-batched NumPy einsum per batch: interpreted zip_with/aggregate
    # lambdas never enter whole-stage codegen and measured ~10x slower on
    # wide candidate sets (see _score_pairs_vectorized).  Vectors are
    # L2-normalized by ivf_assign, so the scorer's re-normalization is a
    # no-op and dot == cosine.
    scored = _score_pairs_vectorized(cand)
    return scored.filter(F.col("cosine") >= threshold).select(
        F.col("query_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"),
        "cosine",
    )


def semantic_dedup_keep(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_clusters: int = 16,
    threshold: float = 0.97,
) -> DataFrame:
    """End-to-end semantic dedup: pairs -> connected components -> keep
    the min-id representative of each semantic cluster."""
    pairs = semantic_dedup_pairs(df, vec_col, id_col, num_clusters, threshold)
    return dedup_apply(df, pairs, id_col=id_col)
