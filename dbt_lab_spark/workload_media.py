"""Media queries: image, audio and video.

Encode and decode (baseline and arithmetic-coded JPEG, MPEG-1 Layer II
and III audio, MJPEG video), perceptual hashing, near-duplicate
clustering and radius-bounded retrieval over planted corpora, with
in-engine recall against exact all-pairs hamming.  Every planted asset
is a pure function of a seed, so each oracle is closed-form over the
planted structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_lab_spark.catalog import Catalog
from dbt_lab_spark.operators.scan import fan_out_if_small, scan
from dbt_lab_spark.workload import QueryDef


# Planted-corpus shape shared by every image query and its oracle.
_IMG_GROUPS = 20
_IMG_VARIANTS = 3
_IMG_SEED = 42
_IMG_MAX_HAMMING = 6
# pHash needs a wider net: the DCT-median hash moves more bits under
# salt noise than the gradient hash (measured planted margins: within
# <= 8, cross >= 20; dhash within <= 4, cross >= 19 — both pinned in
# tests/test_wave32.py).
_IMG_MAX_HAMMING_P = 10
# C(variants, 2) pairs per group
_IMG_TRUE_PAIRS = _IMG_GROUPS * (_IMG_VARIANTS * (_IMG_VARIANTS - 1) // 2)


def _planted(spark: SparkSession) -> DataFrame:
    from dbt_lab_spark.llm.imagededup import make_near_dup_images

    return make_near_dup_images(
        spark, n_groups=_IMG_GROUPS, variants=_IMG_VARIANTS, seed=_IMG_SEED
    )


def _q_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup CLUSTERS over the planted corpus: decode -> dHash
    (one Arrow map-only stage) -> hamming-band LSH pairs (pigeonhole,
    recall 1.0 by construction) -> min-label connected components ->
    (component, n_members).  The planted structure (20 groups x 3
    variants: base / +6 brightness / 2% salt noise, all within hamming
    6; random bases ~32 bits apart) makes the output closed-form:
    component = group*3, n_members = 3 — which DuckDB recomputes from
    the planting rule, proving decode, hash, banding, and clustering
    end-to-end."""
    from dbt_lab_spark.llm.imagededup import image_dup_clusters

    clusters = image_dup_clusters(
        _planted(spark), max_hamming=_IMG_MAX_HAMMING, method="dhash"
    )
    return (
        clusters.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("component")
    )


_SQL_IMAGE_DEDUP = f"""
SELECT CAST(g * {_IMG_VARIANTS} AS BIGINT) AS component,
       CAST({_IMG_VARIANTS} AS BIGINT) AS n_members
FROM generate_series(0, {_IMG_GROUPS - 1}) t(g)
ORDER BY component
"""


def _q_image_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval quality of the production banding path measured
    IN-ENGINE against exact all-pairs hamming (the q_minhash_recall
    pattern): n_exact from a full pairwise bit_count pass over the
    (bounded, planted) hash set, n_banded from hamming_dedup_pairs,
    n_matched their semi-join.  Unlike minhash, hamming banding is
    LOSSLESS by pigeonhole, so recall is exactly 1.0 and every count
    equals the planted closed form ({_IMG_TRUE_PAIRS} pairs) — the
    oracle asserts the theorem, not a tolerance."""
    from dbt_lab_spark.llm.dedup import hamming_dedup_pairs
    from dbt_lab_spark.llm.imagededup import image_hashes

    # localCheckpoint: `hashes` is referenced by both sides of the
    # exact theta-join AND the banded pipeline — without materializing
    # the (tiny: one 64-bit hash per planted asset) relation, Catalyst
    # re-runs the decode+hash stage once per reference (guide §7.2
    # duplicated subtrees; §8 decide-with-small-rows).  Per-build, so
    # every bench run still decodes from scratch.
    hashes = (
        image_hashes(_planted(spark)).select("asset_id", "dhash").localCheckpoint()
    )
    a = hashes.select(F.col("asset_id").alias("id_a"), F.col("dhash").alias("h_a"))
    b = hashes.select(F.col("asset_id").alias("id_b"), F.col("dhash").alias("h_b"))
    exact = (
        # broadcast: a theta-join on an uncached Python-derived frame
        # would otherwise plan as CartesianProduct, recomputing the
        # decode+hash stage per task PAIR (measured 29s vs 0.3s here);
        # the exact baseline is bounded to the planted set by design,
        # so the broadcast side is always small.
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= _IMG_MAX_HAMMING)
    )
    banded = hamming_dedup_pairs(
        hashes, hash_col="dhash", id_col="asset_id", max_hamming=_IMG_MAX_HAMMING
    )
    # One full-outer join + one aggregate (q_minhash_recall pattern):
    # the crossJoin-of-aggs shape re-evaluated `exact` and `banded`
    # once per count.  Pair keys are distinct on both sides, so the
    # join is 1:1 and the counts are unchanged.
    both = exact.select("id_a", "id_b").withColumn("__e", F.lit(1)).join(
        banded.select("id_a", "id_b").withColumn("__b", F.lit(1)),
        ["id_a", "id_b"], "full_outer",
    )
    return both.agg(
        F.count("__e").alias("n_exact"),
        F.count("__b").alias("n_banded"),
        F.count(F.when(F.col("__e").isNotNull() & F.col("__b").isNotNull(), 1))
        .alias("n_matched"),
    ).select(
        "n_exact",
        "n_banded",
        "n_matched",
        (F.col("n_matched") == F.col("n_exact")).alias("recall_eq_1"),
    )


_SQL_IMAGE_DEDUP_RECALL = f"""
SELECT CAST({_IMG_TRUE_PAIRS} AS BIGINT) AS n_exact,
       CAST({_IMG_TRUE_PAIRS} AS BIGINT) AS n_banded,
       CAST({_IMG_TRUE_PAIRS} AS BIGINT) AS n_matched,
       TRUE AS recall_eq_1
"""


def _q_image_phash_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-plane agreement: pairs found by the dHash plane vs the
    pHash plane on the planted corpus — the metric a pipeline consults
    before choosing the cheap gradient hash over the DCT hash.  Both
    planes detect exactly the planted pairs here (closed-form oracle);
    on adversarial corpora they diverge, and this query is how that
    shows up."""
    from dbt_lab_spark.llm.dedup import hamming_dedup_pairs
    from dbt_lab_spark.llm.imagededup import image_hashes

    # localCheckpoint + single full-outer aggregate: same duplicated-
    # subtree fix as q_image_dedup_recall (the decode+hash stage was
    # re-run once per plane per count).
    hashes = image_hashes(_planted(spark)).localCheckpoint()
    dpairs = hamming_dedup_pairs(
        hashes.select("asset_id", "dhash"),
        hash_col="dhash", id_col="asset_id", max_hamming=_IMG_MAX_HAMMING,
    ).select("id_a", "id_b")
    ppairs = hamming_dedup_pairs(
        hashes.select("asset_id", "phash"),
        hash_col="phash", id_col="asset_id", max_hamming=_IMG_MAX_HAMMING_P,
    ).select("id_a", "id_b")
    both = dpairs.withColumn("__d", F.lit(1)).join(
        ppairs.withColumn("__p", F.lit(1)), ["id_a", "id_b"], "full_outer"
    )
    return both.agg(
        F.count("__d").alias("n_dhash_pairs"),
        F.count("__p").alias("n_phash_pairs"),
        F.count(F.when(F.col("__d").isNotNull() & F.col("__p").isNotNull(), 1))
        .alias("n_both"),
    )


_SQL_IMAGE_PHASH_AGREEMENT = f"""
SELECT CAST({_IMG_TRUE_PAIRS} AS BIGINT) AS n_dhash_pairs,
       CAST({_IMG_TRUE_PAIRS} AS BIGINT) AS n_phash_pairs,
       CAST({_IMG_TRUE_PAIRS} AS BIGINT) AS n_both
"""


def _q_image_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-bounded top-k image retrieval (llm/dedup.hamming_topk,
    the retrieval twin of the dedup plane): index the planted corpus'
    dHashes, query with each group's base image (asset_id % 3 == 0),
    k=3 inside radius 6.  The planted margins (within <= 4 < 6 <
    19 <= cross) make the result closed-form: each query retrieves
    exactly itself plus its two variants — so after dropping the
    self-match, (count, min, max) per query are pure functions of the
    group index, which DuckDB recomputes from the planting rule."""
    from dbt_lab_spark.llm.dedup import hamming_topk
    from dbt_lab_spark.llm.imagededup import image_hashes

    hashes = image_hashes(_planted(spark)).select("asset_id", "dhash")
    queries = hashes.filter(F.col("asset_id") % 3 == 0)
    hits = hamming_topk(
        hashes, queries, hash_col="dhash", id_col="asset_id",
        k=3, radius=_IMG_MAX_HAMMING,
    )
    return (
        hits.filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.min("neighbor_id").alias("min_neighbor"),
            F.max("neighbor_id").alias("max_neighbor"),
        )
        .orderBy("query_id")
    )


_SQL_IMAGE_SEARCH = f"""
SELECT CAST(g * {_IMG_VARIANTS} AS BIGINT) AS query_id,
       CAST({_IMG_VARIANTS - 1} AS BIGINT) AS n_neighbors,
       CAST(g * {_IMG_VARIANTS} + 1 AS BIGINT) AS min_neighbor,
       CAST(g * {_IMG_VARIANTS} + 2 AS BIGINT) AS max_neighbor
FROM generate_series(0, {_IMG_GROUPS - 1}) t(g)
ORDER BY query_id
"""


# ---------------------------------------------------------------------------
# Audio fingerprint dedup (the audio cell of the per-modality dedup matrix)
# ---------------------------------------------------------------------------

_AUD_GROUPS = 20
_AUD_VARIANTS = 3
_AUD_SEED = 7
_AUD_MAX_HAMMING = 6
_AUD_TRUE_PAIRS = _AUD_GROUPS * (_AUD_VARIANTS * (_AUD_VARIANTS - 1) // 2)


def _planted_audio(spark: SparkSession) -> DataFrame:
    from dbt_lab_spark.llm.audiodedup import make_near_dup_audio

    return make_near_dup_audio(
        spark, n_groups=_AUD_GROUPS, variants=_AUD_VARIANTS, seed=_AUD_SEED
    )


def _q_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup CLUSTERS over the planted corpus: PCM decode ->
    spectrogram-gradient 64-bit fingerprint (one Arrow map-only stage,
    llm/audiodedup.py) -> hamming-band LSH pairs -> min-label connected
    components -> (component, n_members).  Planted structure (20 groups
    x 3 variants: base / 0.82x gain — fingerprint-invariant by
    construction / low-level seeded noise, margins pinned in
    tests/test_wave33.py) makes the output closed-form: component =
    group*3, n_members = 3 — proving decode, STFT fingerprint, banding,
    and clustering end-to-end."""
    from dbt_lab_spark.llm.audiodedup import audio_dup_clusters

    clusters = audio_dup_clusters(
        _planted_audio(spark), max_hamming=_AUD_MAX_HAMMING
    )
    return (
        clusters.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("component")
    )


_SQL_AUDIO_DEDUP = f"""
SELECT CAST(g * {_AUD_VARIANTS} AS BIGINT) AS component,
       CAST({_AUD_VARIANTS} AS BIGINT) AS n_members
FROM generate_series(0, {_AUD_GROUPS - 1}) t(g)
ORDER BY component
"""


def _q_audio_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-path retrieval quality vs exact all-pairs hamming over the
    audio fingerprint plane (the q_image_dedup_recall pattern; banding
    is lossless by pigeonhole, so the oracle asserts recall == 1 and the
    planted closed form, not a tolerance).  The exact baseline is a
    broadcast theta-join: the corpus is bounded by design, and the
    broadcast keeps the plan off CartesianProduct."""
    from dbt_lab_spark.llm.audiodedup import audio_fingerprints
    from dbt_lab_spark.llm.dedup import hamming_dedup_pairs

    # localCheckpoint for the same duplicated-subtree reason as
    # q_image_dedup_recall: decode+fingerprint once, not per reference.
    fps = (
        audio_fingerprints(_planted_audio(spark))
        .select("asset_id", "afp")
        .localCheckpoint()
    )
    a = fps.select(F.col("asset_id").alias("id_a"), F.col("afp").alias("h_a"))
    b = fps.select(F.col("asset_id").alias("id_b"), F.col("afp").alias("h_b"))
    exact = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= _AUD_MAX_HAMMING)
    )
    banded = hamming_dedup_pairs(
        fps, hash_col="afp", id_col="asset_id", max_hamming=_AUD_MAX_HAMMING
    )
    # One full-outer join + one aggregate (q_minhash_recall pattern):
    # the crossJoin-of-aggs shape re-evaluated `exact` and `banded`
    # once per count.  Pair keys are distinct on both sides, so the
    # join is 1:1 and the counts are unchanged.
    both = exact.select("id_a", "id_b").withColumn("__e", F.lit(1)).join(
        banded.select("id_a", "id_b").withColumn("__b", F.lit(1)),
        ["id_a", "id_b"], "full_outer",
    )
    return both.agg(
        F.count("__e").alias("n_exact"),
        F.count("__b").alias("n_banded"),
        F.count(F.when(F.col("__e").isNotNull() & F.col("__b").isNotNull(), 1))
        .alias("n_matched"),
    ).select(
        "n_exact",
        "n_banded",
        "n_matched",
        (F.col("n_matched") == F.col("n_exact")).alias("recall_eq_1"),
    )


_SQL_AUDIO_DEDUP_RECALL = f"""
SELECT CAST({_AUD_TRUE_PAIRS} AS BIGINT) AS n_exact,
       CAST({_AUD_TRUE_PAIRS} AS BIGINT) AS n_banded,
       CAST({_AUD_TRUE_PAIRS} AS BIGINT) AS n_matched,
       TRUE AS recall_eq_1
"""


# ---------------------------------------------------------------------------
# Video near-dup dedup (per-frame hashes, frame-aligned banding)
# ---------------------------------------------------------------------------

_VID_GROUPS = 12
_VID_VARIANTS = 3
_VID_SEED = 11
_VID_MAX_MEAN_HAMMING = 6.0


def _q_video_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup CLUSTERS over the planted MJPEG corpus: container
    split -> per-frame JPEG decode + dHash (one Arrow map-only stage,
    llm/videodedup.py) -> frame-aligned pigeonhole banding -> exact
    aligned-sequence mean-hamming verify -> connected components.
    Planted structure (12 groups x 3 variants: base / +6 brightness /
    2% salt noise per frame, JPEG q90 round-trip; margins pinned in
    tests/test_wave33.py) makes the output closed-form: component =
    group*3, n_members = 3."""
    from dbt_lab_spark.llm.videodedup import make_near_dup_videos, video_dup_clusters

    corpus = make_near_dup_videos(
        spark, n_groups=_VID_GROUPS, variants=_VID_VARIANTS, seed=_VID_SEED
    )
    clusters = video_dup_clusters(
        corpus, max_mean_hamming=_VID_MAX_MEAN_HAMMING
    )
    return (
        clusters.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("component")
    )


_SQL_VIDEO_DEDUP = f"""
SELECT CAST(g * {_VID_VARIANTS} AS BIGINT) AS component,
       CAST({_VID_VARIANTS} AS BIGINT) AS n_members
FROM generate_series(0, {_VID_GROUPS - 1}) t(g)
ORDER BY component
"""


_MP2_N_ASSETS = 24
_MP2_RATES = [32000, 44100, 48000]


def _q_mp2_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG-1 Layer II audio DECODE (VERDICT r4 #7; metadata-only was
    r4's q_mp3_meta): plant sine tones at the centers of 8 equal bands
    spanning the CODED bandwidth (sblimit=30 of 64 half-subbands, so
    freq = (b + 0.5)/8 * 30/64 * sr for b = doc_id % 8 — like the real
    tables, the codec cuts subbands 30-31, so planting over full
    Nyquist would leave band 7 silent), sr rotating over
    32/44.1/48 kHz; encode with the Layer II subband codec
    (llm/codecs.py encode_mp2: polyphase analysis, analytic 3-B.1
    scalefactors, linear requantization), decode back through the
    polyphase SYNTHESIS filterbank, and verify in-engine that (a) the
    dominant spectral band of the DECODED audio is exactly the planted
    band and (b) round-trip SNR >= 30 dB.  Both hops are Arrow
    mapInPandas stages (build -> decode+measure), map-only.  Oracle:
    every output is a closed-form function of doc_id."""
    import numpy as np
    import pandas as pd

    from dbt_lab_spark.catalog import Catalog
    from dbt_lab_spark.operators.scan import scan

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id"]).filter(
        F.col("doc_id") < _MP2_N_ASSETS
    )

    def _build(batches):
        from dbt_lab_spark.llm.codecs import encode_mp2

        for pdf in batches:
            if not len(pdf):
                continue
            payloads, bands, rates = [], [], []
            for d in pdf["doc_id"]:
                d = int(d)
                sr = _MP2_RATES[d % 3]
                band = d % 8
                freq = (band + 0.5) / 8.0 * (30.0 / 64.0) * sr
                t = np.arange(1152 * 3)
                sine = (12000 * np.sin(2 * np.pi * freq * t / sr)).astype(
                    np.int16
                )
                payloads.append(encode_mp2(sine, samplerate=sr, bitrate_kbps=192))
                bands.append(band)
                rates.append(sr)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": payloads,
                    "planted_band": bands,
                    "samplerate": rates,
                }
            )

    assets = docs.mapInPandas(
        _build,
        "doc_id long, payload binary, planted_band int, samplerate int",
    )

    def _decode(batches):
        from dbt_lab_spark.llm.codecs import decode_mp2

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for d, payload, band, sr in zip(
                pdf["doc_id"], pdf["payload"], pdf["planted_band"], pdf["samplerate"]
            ):
                dec, sr2 = decode_mp2(bytes(payload))
                x = dec.astype(np.float64)
                # dominant band of 8 over the CODED bandwidth
                # (30/64 * sr = 15/16 of Nyquist) via one rFFT
                spec = np.abs(np.fft.rfft(x[1024:-1024]))
                edges = np.linspace(0, len(spec) * 15 / 16, 9).astype(int)
                energy = [
                    float((spec[edges[b] : edges[b + 1]] ** 2).sum())
                    for b in range(8)
                ]
                band_max = int(np.argmax(energy))
                freq = (int(band) + 0.5) / 8.0 * (30.0 / 64.0) * int(sr)
                t = np.arange(len(dec))
                ref = 12000 * np.sin(2 * np.pi * freq * t / int(sr))
                a = ref[1024:-1024]
                b2 = x[1024:-1024]
                err = a - b2
                snr = 10 * np.log10(
                    (a**2).sum() / max((err**2).sum(), 1e-12)
                )
                rows.append((int(d), band_max, int(band), bool(snr >= 30.0)))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "band_max", "planted_band", "snr_ge_30"],
            )

    return (
        assets.mapInPandas(
            _decode,
            "doc_id long, band_max int, planted_band int, snr_ge_30 boolean",
        )
        .orderBy("doc_id")
    )


def _sql_mp2_audio() -> str:
    return f"""
SELECT doc_id,
       CAST(doc_id % 8 AS INTEGER) AS band_max,
       CAST(doc_id % 8 AS INTEGER) AS planted_band,
       TRUE AS snr_ge_30
FROM documents WHERE doc_id < {_MP2_N_ASSETS} ORDER BY doc_id
"""


def _q_audio_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-bounded top-k retrieval on the AUDIO fingerprint plane
    (hamming_topk, same contract as q_image_search): query each
    planted group's base clip against the corpus; margins (within <= 4
    < 6 < 10 <= cross) make each query retrieve exactly itself + its
    two variants — closed-form after dropping the self-match."""
    from dbt_lab_spark.llm.audiodedup import audio_fingerprints
    from dbt_lab_spark.llm.dedup import hamming_topk

    # localCheckpoint for the same duplicated-subtree reason as
    # q_image_dedup_recall: decode+fingerprint once, not per reference.
    fps = (
        audio_fingerprints(_planted_audio(spark))
        .select("asset_id", "afp")
        .localCheckpoint()
    )
    queries = fps.filter(F.col("asset_id") % 3 == 0)
    hits = hamming_topk(
        fps, queries, hash_col="afp", id_col="asset_id",
        k=3, radius=_AUD_MAX_HAMMING,
    )
    return (
        hits.filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.min("neighbor_id").alias("min_neighbor"),
            F.max("neighbor_id").alias("max_neighbor"),
        )
        .orderBy("query_id")
    )


_SQL_AUDIO_SEARCH = f"""
SELECT CAST(g * {_AUD_VARIANTS} AS BIGINT) AS query_id,
       CAST({_AUD_VARIANTS - 1} AS BIGINT) AS n_neighbors,
       CAST(g * {_AUD_VARIANTS} + 1 AS BIGINT) AS min_neighbor,
       CAST(g * {_AUD_VARIANTS} + 2 AS BIGINT) AS max_neighbor
FROM generate_series(0, {_AUD_GROUPS - 1}) t(g)
ORDER BY query_id
"""


# ---------------------------------------------------------------------------
# MPEG-1 Layer III audio decode (VERDICT r5 #3)
# ---------------------------------------------------------------------------

_MP3_N_ASSETS = 24
_MP3_RATES = [32000, 44100, 48000]


def _q_mp3_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG-1 Layer III audio DECODE (VERDICT r5 #3; Layer II was r5,
    header metadata r4): plant sine tones at the centers of 8 equal
    bands over FULL Nyquist (Layer III codes all 32 polyphase subbands
    through the hybrid MDCT — no Layer II sblimit cut), sr rotating
    over 32/44.1/48 kHz; encode with the Layer III codec
    (llm/codecs.py encode_mp3_audio: polyphase + 18-point MDCT, alias
    butterflies, x^(4/3) requantization, canonical-Huffman spectral
    pairs + linbits escape, inner rate loop), decode back, and verify
    in-engine that (a) the dominant spectral band of the DECODED audio
    is exactly the planted band and (b) round-trip SNR >= 30 dB
    (measured 40-54).  Both hops are Arrow mapInPandas stages,
    map-only.  Oracle: every output is a closed-form function of
    doc_id."""
    import numpy as np
    import pandas as pd

    cat = Catalog(sf_dir)
    # Fan out the tiny asset-id relation so the per-row codec
    # encode/decode mapInPandas stages run in parallel Python workers
    # instead of one (size-gated, guide 2.4/4).
    docs = fan_out_if_small(
        scan(spark, cat, "documents", ["doc_id"]).filter(
            F.col("doc_id") < _MP3_N_ASSETS
        )
    )

    def _build(batches):
        from dbt_lab_spark.llm.codecs import encode_mp3_audio

        for pdf in batches:
            if not len(pdf):
                continue
            payloads, bands, rates = [], [], []
            for d in pdf["doc_id"]:
                d = int(d)
                sr = _MP3_RATES[d % 3]
                band = d % 8
                freq = (band + 0.5) / 8.0 * sr / 2.0
                t = np.arange(1152 * 3)
                sine = (12000 * np.sin(2 * np.pi * freq * t / sr)).astype(
                    np.int16
                )
                payloads.append(
                    encode_mp3_audio(sine, samplerate=sr, bitrate_kbps=192)
                )
                bands.append(band)
                rates.append(sr)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": payloads,
                    "planted_band": bands,
                    "samplerate": rates,
                }
            )

    assets = docs.mapInPandas(
        _build,
        "doc_id long, payload binary, planted_band int, samplerate int",
    )

    def _decode(batches):
        from dbt_lab_spark.llm.codecs import decode_mp3_audio

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for d, payload, band, sr in zip(
                pdf["doc_id"], pdf["payload"], pdf["planted_band"], pdf["samplerate"]
            ):
                dec, _sr2 = decode_mp3_audio(bytes(payload))
                freq = (int(band) + 0.5) / 8.0 * int(sr) / 2.0
                t = np.arange(1152 * 3)
                ref = 12000 * np.sin(2 * np.pi * freq * t / int(sr))
                n = min(len(dec), len(ref))
                a = ref[1024 : n - 1024]
                b2 = dec[1024 : n - 1024].astype(np.float64)
                spec = np.abs(np.fft.rfft(b2))
                edges = np.linspace(0, len(spec), 9).astype(int)
                energy = [
                    float((spec[edges[i] : edges[i + 1]] ** 2).sum())
                    for i in range(8)
                ]
                band_max = int(np.argmax(energy))
                err = a - b2
                snr = 10 * np.log10((a**2).sum() / max((err**2).sum(), 1e-12))
                rows.append((int(d), band_max, int(band), bool(snr >= 30.0)))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "band_max", "planted_band", "snr_ge_30"],
            )

    return (
        assets.mapInPandas(
            _decode,
            "doc_id long, band_max int, planted_band int, snr_ge_30 boolean",
        )
        .orderBy("doc_id")
    )


_SQL_MP3_AUDIO = f"""
SELECT doc_id,
       CAST(doc_id % 8 AS INTEGER) AS band_max,
       CAST(doc_id % 8 AS INTEGER) AS planted_band,
       TRUE AS snr_ge_30
FROM documents WHERE doc_id < {_MP3_N_ASSETS} ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Arithmetic-coded JPEG (VERDICT r6 #7 — the last stubbed codec path)
# ---------------------------------------------------------------------------

_JPEG_ARITH_N_ASSETS = 24


def _q_jpeg_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARITHMETIC-coded JPEG (SOF9, T.81 Annex D QM-coder) encode +
    decode as Arrow mapInPandas stages: plant a 48x48 brightness ramp
    whose direction is doc_id%4 (right/down/left/up), encode with the
    QM entropy coder (llm/codecs.py encode_jpeg_arith: Table D.3
    state machine, 0xFF00 byte stuffing, carry-resolved flush), decode
    back through the shared DCT/dequant path, and verify in-engine
    that (a) the decoded ramp's dominant direction is the planted one,
    (b) round-trip RMSE <= 9 (measured ~4-8 at q90), and (c) the
    arithmetic payload is SMALLER than the same image's Huffman
    baseline payload — the compression advantage that is the point of
    the QM coder.  Oracle: every output is a closed-form function of
    doc_id."""
    import numpy as np
    import pandas as pd

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id"]).filter(
        F.col("doc_id") < _JPEG_ARITH_N_ASSETS
    )

    def _roundtrip(batches):
        from dbt_lab_spark.llm.codecs import (
            decode_jpeg,
            encode_jpeg,
            encode_jpeg_arith,
        )

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                direction = d % 4
                yy, xx = np.mgrid[0:48, 0:48]
                ramp = [xx, yy, 47 - xx, 47 - yy][direction] * (220.0 / 47.0)
                img = np.stack(
                    [ramp, ramp * 0.8 + 20, ramp * 0.6 + 40], axis=2
                ).astype(np.uint8)
                pa = encode_jpeg_arith(img, quality=90)
                ph = encode_jpeg(img, quality=90)
                dec = decode_jpeg(pa).astype(np.float64)
                y = dec.mean(axis=2)
                dx = float(y[:, 24:].mean() - y[:, :24].mean())
                dy = float(y[24:, :].mean() - y[:24, :].mean())
                if abs(dx) >= abs(dy):
                    got = 0 if dx > 0 else 2
                else:
                    got = 1 if dy > 0 else 3
                rmse = float(np.sqrt(np.mean((dec - img.astype(np.float64)) ** 2)))
                rows.append(
                    (d, got, direction, bool(rmse <= 9.0), bool(len(pa) < len(ph)))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "dir_decoded", "dir_planted",
                    "rmse_le_9", "arith_smaller",
                ],
            )

    return docs.mapInPandas(
        _roundtrip,
        "doc_id long, dir_decoded int, dir_planted int, "
        "rmse_le_9 boolean, arith_smaller boolean",
    ).orderBy("doc_id")


_SQL_JPEG_ARITH = f"""
SELECT doc_id,
       CAST(doc_id % 4 AS INTEGER) AS dir_decoded,
       CAST(doc_id % 4 AS INTEGER) AS dir_planted,
       TRUE AS rmse_le_9,
       TRUE AS arith_smaller
FROM documents WHERE doc_id < {_JPEG_ARITH_N_ASSETS} ORDER BY doc_id
"""


MEDIA_QUERIES: list[QueryDef] = [
    QueryDef(
        "q_mp2_audio", _q_mp2_audio, _sql_mp2_audio(),
        "Layer II subband codec round-trip: band placement + SNR",
    ),
    QueryDef(
        "q_image_dedup", _q_image_dedup, _SQL_IMAGE_DEDUP,
        "perceptual-hash image dedup clusters (dHash + band LSH + CC)",
    ),
    QueryDef(
        "q_image_dedup_recall", _q_image_dedup_recall, _SQL_IMAGE_DEDUP_RECALL,
        "banding recall vs exact hamming (lossless by pigeonhole)",
    ),
    QueryDef(
        "q_image_phash_agreement", _q_image_phash_agreement,
        _SQL_IMAGE_PHASH_AGREEMENT,
        "dHash-vs-pHash plane agreement on planted near-dups",
    ),
    QueryDef(
        "q_audio_dedup", _q_audio_dedup, _SQL_AUDIO_DEDUP,
        "spectrogram-fingerprint audio dedup clusters (band LSH + CC)",
    ),
    QueryDef(
        "q_audio_dedup_recall", _q_audio_dedup_recall, _SQL_AUDIO_DEDUP_RECALL,
        "audio banding recall vs exact hamming (lossless by pigeonhole)",
    ),
    QueryDef(
        "q_video_dedup", _q_video_dedup, _SQL_VIDEO_DEDUP,
        "per-frame-hash video dedup clusters (frame-aligned banding)",
    ),
    QueryDef(
        "q_image_search", _q_image_search, _SQL_IMAGE_SEARCH,
        "radius-bounded top-k perceptual-hash retrieval (banded index)",
    ),
    QueryDef(
        "q_audio_search", _q_audio_search, _SQL_AUDIO_SEARCH,
        "radius-bounded top-k audio fingerprint retrieval",
    ),
    QueryDef(
        "q_mp3_audio", _q_mp3_audio, _SQL_MP3_AUDIO,
        "MPEG-1 Layer III decode: hybrid MDCT + Huffman, band placement + SNR",
    ),
    QueryDef(
        "q_jpeg_arith", _q_jpeg_arith, _SQL_JPEG_ARITH,
        "arithmetic JPEG (SOF9 QM-coder): decode exact, smaller than Huffman",
    ),
]
