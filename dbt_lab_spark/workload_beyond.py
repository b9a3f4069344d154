"""Beyond-reference workload: events (windowed/sessionized), documents
(text analysis + dedup), embeddings (similarity search).  Same
(builder, oracle) contract as dbt_lab_spark.workload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbt_lab_spark.catalog import Catalog
from dbt_lab_spark.expr import money
from dbt_lab_spark.functions.text import (
    bigrams,
    bpe_ish_token_count,
    fingerprint,
    lang_id,
    quality_score,
    shingles,
    token_count,
)
from dbt_lab_spark.functions.vectors import cosine_similarity, to_double_array
from dbt_lab_spark.llm.dedup import (
    embedding_dedup_pairs,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_dedup_pairs,
)
from dbt_lab_spark.llm.similarity import brute_force_knn, lsh_knn
from dbt_lab_spark.operators.scan import fan_out_if_small, scan
from dbt_lab_spark.workload import QueryDef

# ---------------------------------------------------------------------------
# events: tumbling window + sessionization (SURVEY.md §2.9 gap filled)
# ---------------------------------------------------------------------------


def _q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate over the events table — the
    batch expression of the streaming windowed aggregate (the same
    groupBy(window(...)) works under readStream; see
    dbt_lab_spark.streaming)."""
    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["ts", "event_type", "value"])
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start"),
        F.col("event_type"),
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(money("value")).cast("double").alias("sum_value"),
    )


_SQL_TUMBLING_WINDOW = """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap: lag + cumulative
    session counter per user (the batch idiom; streaming uses
    session_window).  Gap compared in exact epoch-millis."""
    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["user_id", "event_id", "ts", "value"])
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ms = F.unix_millis(F.col("ts")) - F.unix_millis(F.lag("ts").over(order))
    with_flag = ev.withColumn(
        "__new_session",
        F.when(gap_ms.isNull() | (gap_ms > 30 * 60 * 1000), F.lit(1)).otherwise(F.lit(0)),
    )
    with_id = with_flag.withColumn(
        "session_seq",
        F.sum("__new_session").over(
            order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return with_id.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.sum(money("value")).cast("double").alias("sum_value"),
    )


_SQL_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_ms(ts) - epoch_ms(LAG(ts) OVER w) > 30*60*1000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, value,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM numbered GROUP BY user_id, session_seq
"""


def _q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour/15-minute window aggregate (streaming-native
    window() run on the batch frame).  Every event lands in exactly 4
    windows; the oracle expands them with an explicit 0..3 slide-offset
    cross join — both engines align window starts to the epoch grid."""
    from dbt_lab_spark.streaming.windows import sliding_window_agg

    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["ts", "event_type", "value"])
    ev = ev.withColumn("value", money("value"))
    out = sliding_window_agg(ev, window="1 hour", slide="15 minutes", by="event_type")
    return out.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


_SQL_SLIDING_WINDOW = """
WITH expanded AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes'
           AS window_start,
         event_type, value
  FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) ks
)
SELECT window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM expanded GROUP BY window_start, event_type
"""


def _q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column functions (§2.8 upgrade): extract a typed field from
    the events props JSON and aggregate it per event type."""
    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["event_type", "props"])
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count("k").alias("n_with_k"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


_SQL_JSON_EXTRACT = """
SELECT event_type,
       COUNT(k) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k
FROM (SELECT event_type, CAST(props->>'$.k' AS INTEGER) AS k FROM events)
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# documents: text analysis + dedup
# ---------------------------------------------------------------------------


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source text statistics: token counting + char stats — the
    cheap pre-filter metrics of a data pipeline, all JVM-side."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text", "source"])
    per_doc = docs.select(
        "source",
        token_count("text").alias("n_tokens"),
        F.length("text").alias("n_chars_calc"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum("n_chars_calc").alias("sum_chars"),
        F.max("n_tokens").alias("max_tokens"),
    )


_SQL_TEXT_STATS = """
WITH per_doc AS (
  SELECT source,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS INTEGER) AS n_tokens,
         length(text) AS n_chars_calc
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(SUM(n_chars_calc) AS BIGINT) AS sum_chars,
       MAX(n_tokens) AS max_tokens
FROM per_doc GROUP BY source
"""


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup group summary: md5 fingerprint -> representative id +
    copy count (hash-groupBy dedup; oracle-identical md5 on both sides)."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text"])
    return (
        docs.select(fingerprint("text").alias("fp"), F.col("doc_id"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("doc_id").alias("n_copies"))
    )


_SQL_DEDUP_EXACT = """
SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(doc_id) AS n_copies
FROM documents GROUP BY md5(text)
"""


def _q_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keep-set: the surviving rows themselves (min doc_id
    per content fingerprint) — the operator a pipeline actually applies
    after q_dedup_exact's group summary."""
    from dbt_lab_spark.llm.dedup import exact_dedup

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text", "source"])
    return exact_dedup(docs).select("doc_id", "source")


_SQL_DEDUP_KEEP = """
SELECT doc_id, source FROM documents
WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5(text))
"""


def _q_minhash_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup: MinHash-LSH pairs → connected
    components (iterative min-label propagation) → keep one doc per
    duplicate cluster; surviving count per source.  Iterative → no SQL
    oracle (rows-only); the CC algorithm is pin-tested against a python
    union-find in tests/test_llm_ops.py."""
    from dbt_lab_spark.llm.dedup import dedup_apply

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text", "source"])
    pairs = minhash_dedup_pairs(docs, num_hashes=64, shingle_k=3, num_bands=16, threshold=0.5)
    kept = dedup_apply(docs, pairs)
    return kept.groupBy("source").agg(F.count("*").alias("n_docs_kept"))


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs (est_jaccard >= 0.5).
    Non-SQL-expressible (seeded xxhash banding) -> rows-only check;
    exactness is pin-tested against true Jaccard in tests/."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text"])
    return minhash_dedup_pairs(docs, num_hashes=64, shingle_k=3, num_bands=16, threshold=0.5)


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3, the Manku/Jain/Sarma
    WWW'07 cut for 64-bit fingerprints) — rows-only check.  The
    threshold is a scale decision, not a tuning detail: on this corpus
    pairs at hamming 0-2 grow ~linearly with SF (true planted
    near-dups, matching the minhash/ngram counts) while the 4-6 band
    is the random-collision tail growing ~quadratically (172 -> 15056
    pairs from sf0.01 -> sf0.1, 87x for 10x data) — an output no
    engine survives at 100 TB."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text"])
    return simhash_dedup_pairs(docs, max_hamming=3)


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs word-3-gram Jaccard near-dups (jaccard >= 0.5)
    via the inverted-index count trick (|A∩B| = shingle-join match
    count; no arrays cross the shuffle).  SQL-expressible, so the oracle
    verifies it end-to-end.  At 100 TB common-shingle skew still bounds
    the exact form — the scale path is `ngram_jaccard_pairs` fed by
    MinHash-LSH candidates (pinned in tests/test_llm_ops.py)."""
    from dbt_lab_spark.llm.dedup import ngram_jaccard_all_pairs

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text"])
    return ngram_jaccard_all_pairs(docs, shingle_k=3, threshold=0.5)


_SQL_NGRAM_JACCARD = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
              ELSE [array_to_string(t[i:i+2], ' ') FOR i IN generate_series(1, len(t)-2)]
         END) AS s
  FROM toks
), ex AS (
  SELECT doc_id, unnest(s) AS g FROM sh
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
), scored AS (
  SELECT id_a, id_b,
         CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
           / len(list_distinct(list_concat(sa.s, sb.s))) AS jaccard
  FROM cand JOIN sh sa ON sa.doc_id = cand.id_a JOIN sh sb ON sb.doc_id = cand.id_b
)
SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5
"""


def _q_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis rollup per (source, predicted language): doc count,
    high-quality count (heuristic score >= 0.5), BPE-ish token total.
    Exercises lang_id, quality_score, bpe_ish_token_count — all pure
    Column expressions, mirrored term-for-term in the oracle SQL."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text", "source"])
    per_doc = docs.select(
        "source",
        lang_id("text").alias("lang_pred"),
        quality_score("text").alias("q"),
        bpe_ish_token_count("text").alias("bpe"),
    )
    return per_doc.groupBy("source", "lang_pred").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("q") >= 0.5, 1).otherwise(0)).alias("n_high_quality"),
        F.sum("bpe").alias("sum_bpe_tokens"),
    )


_SQL_LANG_QUALITY = r"""
WITH per_doc AS (
  SELECT source,
         string_split_regex(lower(trim(text)), '\s+') AS toks,
         trim(text) AS t
  FROM documents
), scored AS (
  SELECT source,
         len(list_intersect(toks, ['the','and','of','to','is','in','that','it','for','with'])) AS s_en,
         len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein','mit','auf','für'])) AS s_de,
         len(list_intersect(toks, ['le','la','les','et','est','une','pour','dans','que','des'])) AS s_fr,
         len(list_intersect(toks, ['el','la','los','y','es','una','para','en','que','por'])) AS s_es,
         CAST(length(t) AS DOUBLE) AS n_chars,
         CAST(length(regexp_replace(t, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
         CAST(len(toks) AS DOUBLE) AS n_tok,
         CAST(len(list_intersect(toks,
              ['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','that','this','be','are','was'])) AS DOUBLE) AS stop_hits,
         CAST(list_sum([CAST(ceil(length(w) / 4.0) AS INTEGER)
                        FOR w IN string_split_regex(t, '\s+')]) AS INTEGER) AS bpe
  FROM per_doc
), lang AS (
  SELECT source, bpe,
         CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
              WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
              WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
              WHEN s_fr >= s_es THEN 'fr'
              ELSE 'es' END AS lang_pred,
         round(CAST(0.3 AS DOUBLE) * least(n_chars / 200.0, 1.0)
             + CAST(0.3 AS DOUBLE) * (n_alpha / greatest(n_chars, 1.0))
             + CAST(0.2 AS DOUBLE) * least(stop_hits / 3.0, 1.0)
             + CAST(0.2 AS DOUBLE) * (CASE WHEN n_chars / greatest(n_tok, 1.0) >= 3.0
                                            AND n_chars / greatest(n_tok, 1.0) <= 12.0
                                           THEN CAST(1.0 AS DOUBLE)
                                           ELSE CAST(0.3 AS DOUBLE) END), 4) AS q
  FROM scored
)
SELECT source, lang_pred,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_quality,
       CAST(SUM(bpe) AS BIGINT) AS sum_bpe_tokens
FROM lang GROUP BY source, lang_pred
"""


# ---------------------------------------------------------------------------
# evaluation & inference statistics (functions/stats.py)
# ---------------------------------------------------------------------------

# Shared per-doc CTE: heuristic quality score (rounded to 4, so score
# group keys are identical across engines) + is-English label.
_SQL_QSCORE_PERDOC = r"""
qraw AS (
  SELECT doc_id, lang, trim(text) AS t,
         string_split_regex(lower(trim(text)), '\s+') AS toks
  FROM documents
), qstat AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
         CAST(length(t) AS DOUBLE) AS n_chars,
         CAST(length(regexp_replace(t, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
         CAST(len(toks) AS DOUBLE) AS n_tok,
         CAST(len(list_intersect(toks,
              ['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','that','this','be','are','was'])) AS DOUBLE) AS stop_hits
  FROM qraw
), qscore AS (
  SELECT doc_id, label,
         round(CAST(0.3 AS DOUBLE) * least(n_chars / 200.0, 1.0)
             + CAST(0.3 AS DOUBLE) * (n_alpha / greatest(n_chars, 1.0))
             + CAST(0.2 AS DOUBLE) * least(stop_hits / 3.0, 1.0)
             + CAST(0.2 AS DOUBLE) * (CASE WHEN n_chars / greatest(n_tok, 1.0) >= 3.0
                                            AND n_chars / greatest(n_tok, 1.0) <= 12.0
                                           THEN CAST(1.0 AS DOUBLE)
                                           ELSE CAST(0.3 AS DOUBLE) END), 4) AS q
  FROM qstat
)"""


def _q_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the heuristic quality score as a predictor of
    lang=='en', via functions/stats.py:auc — the Mann-Whitney
    formulation over per-distinct-score counts (one hash aggregate +
    one window over distinct scores; NO row-level global sort, the
    shape that survives 100 TB).  Half-step U terms are exact in
    double, so the statistic is bit-identical across engines."""
    from dbt_lab_spark.functions.stats import auc
    from dbt_lab_spark.functions.text import quality_score

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text", "lang"])
    scored = docs.select(
        quality_score("text").alias("q"), (F.col("lang") == "en").alias("label")
    )
    return auc(scored, "q", "label")


_SQL_AUC_EVAL = rf"""
WITH {_SQL_QSCORE_PERDOC},
per_s AS (
  SELECT q AS s, SUM(label) AS np, SUM(1 - label) AS nn FROM qscore GROUP BY q
), cum AS (
  SELECT s, np, nn,
         COALESCE(SUM(nn) OVER (ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
  FROM per_s
), agg AS (
  SELECT SUM(np * (cumneg + nn / 2.0)) AS u,
         SUM(np) AS n_pos, SUM(nn) AS n_neg
  FROM cum
)
SELECT CASE WHEN n_pos > 0 AND n_neg > 0 THEN u / (n_pos * n_neg) END AS auc,
       n_pos, n_neg
FROM agg
"""


def _q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for the quality score vs lang=='en':
    per score-decile (n, mean_score, pos_rate) via
    functions/stats.py:calibration_bins — one hash aggregate."""
    from dbt_lab_spark.functions.stats import calibration_bins
    from dbt_lab_spark.functions.text import quality_score

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text", "lang"])
    scored = docs.select(
        quality_score("text").alias("q"), (F.col("lang") == "en").alias("label")
    )
    return calibration_bins(scored, "q", "label", n_bins=10)


_SQL_CALIBRATION = rf"""
WITH {_SQL_QSCORE_PERDOC}
SELECT CAST(least(floor(q * 10), 9) AS INT) AS bin,
       COUNT(*) AS n,
       AVG(q) AS mean_score,
       AVG(CAST(label AS DOUBLE)) AS pos_rate
FROM qscore GROUP BY 1
"""


def _q_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the corpus lang column and the marker-word
    lang_id heuristic — inter-annotator agreement as a label-quality
    gate, via functions/stats.py:cohens_kappa (contingency marginals
    only; nothing row-scale past the first aggregates)."""
    from dbt_lab_spark.functions.stats import cohens_kappa
    from dbt_lab_spark.functions.text import lang_id

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text", "lang"])
    labeled = docs.select(F.col("lang").alias("a"), lang_id("text").alias("b"))
    return cohens_kappa(labeled, "a", "b")


_SQL_KAPPA = r"""
WITH toks AS (
  SELECT lang AS a, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), votes AS (
  SELECT a,
         len(list_intersect(t, ['the','and','of','to','is','in','that','it','for','with'])) AS s_en,
         len(list_intersect(t, ['der','die','das','und','ist','nicht','ein','mit','auf','für'])) AS s_de,
         len(list_intersect(t, ['le','la','les','et','est','une','pour','dans','que','des'])) AS s_fr,
         len(list_intersect(t, ['el','la','los','y','es','una','para','en','que','por'])) AS s_es
  FROM toks
), lab AS (
  SELECT a,
         CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
              WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
              WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
              WHEN s_fr >= s_es THEN 'fr'
              ELSE 'es' END AS b
  FROM votes
), n AS (SELECT COUNT(*) AS n FROM lab),
po AS (
  SELECT SUM(CASE WHEN a = b THEN 1 ELSE 0 END) / (SELECT CAST(n AS DOUBLE) FROM n) AS po
  FROM lab
), ma AS (
  SELECT a AS k, COUNT(*) / (SELECT CAST(n AS DOUBLE) FROM n) AS pa FROM lab GROUP BY a
), mb AS (
  SELECT b AS k, COUNT(*) / (SELECT CAST(n AS DOUBLE) FROM n) AS pb FROM lab GROUP BY b
), pe AS (
  SELECT SUM(pa * pb) AS pe FROM ma JOIN mb USING (k)
)
SELECT (po.po - pe.pe) / (1.0 - pe.pe) AS kappa, po.po AS po, pe.pe AS pe,
       (SELECT n FROM n) AS n
FROM po, pe
"""


def _q_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence of order priority vs order
    status, via functions/stats.py:chi_square_independence — the full
    zero-filled contingency grid so empty cells contribute their
    expected mass; frames after the first aggregates are bounded by
    category cardinality."""
    from dbt_lab_spark.functions.stats import chi_square_independence

    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_orderpriority", "o_orderstatus"])
    return chi_square_independence(orders, "o_orderpriority", "o_orderstatus")


_SQL_CHI2 = r"""
WITH n AS (SELECT COUNT(*) AS n FROM orders),
obs AS (
  SELECT o_orderpriority AS a, o_orderstatus AS b, COUNT(*) AS o
  FROM orders GROUP BY 1, 2
), ra AS (SELECT o_orderpriority AS a, COUNT(*) AS ra FROM orders GROUP BY 1),
cb AS (SELECT o_orderstatus AS b, COUNT(*) AS cb FROM orders GROUP BY 1),
grid AS (
  SELECT ra.a, cb.b, COALESCE(obs.o, 0) AS o,
         ra.ra * cb.cb / (SELECT CAST(n AS DOUBLE) FROM n) AS e
  FROM ra CROSS JOIN cb LEFT JOIN obs ON obs.a = ra.a AND obs.b = cb.b
)
SELECT SUM((o - e) * (o - e) / e) AS chi2,
       CAST(((SELECT COUNT(*) FROM ra) - 1) * ((SELECT COUNT(*) FROM cb) - 1) AS INT) AS dof,
       (SELECT n FROM n) AS n
FROM grid
"""


def _q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-arm t-test over event values (arm = user_id parity)
    via functions/stats.py:welch_t: two grouped moment aggregates and
    a scalar formula — the experimentation primitive.  Statistics
    rounded to 4 (variance accumulation order differs legitimately
    across engines at ~1e-12 relative)."""
    from dbt_lab_spark.functions.stats import welch_t

    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["user_id", "value"])
    armed = ev.select((F.col("user_id") % 2).alias("arm"), "value")
    out = welch_t(armed, "arm", "value")
    return out.select(
        F.round("t_stat", 4).alias("t_stat"),
        F.round("df_welch", 2).alias("df_welch"),
        F.round("mean_a", 4).alias("mean_a"),
        F.round("mean_b", 4).alias("mean_b"),
        "n_a",
        "n_b",
    )


_SQL_AB_TEST = r"""
WITH g AS (
  SELECT user_id % 2 AS arm, COUNT(*) AS n,
         AVG(CAST(value AS DOUBLE)) AS m,
         VAR_SAMP(CAST(value AS DOUBLE)) AS v
  FROM events GROUP BY 1
), a AS (SELECT * FROM g ORDER BY arm LIMIT 1),
b AS (SELECT * FROM g ORDER BY arm DESC LIMIT 1)
SELECT round((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 4) AS t_stat,
       round(pow(a.v / a.n + b.v / b.n, 2) /
             (pow(a.v / a.n, 2) / (a.n - 1) + pow(b.v / b.n, 2) / (b.n - 1)), 2) AS df_welch,
       round(a.m, 4) AS mean_a, round(b.m, 4) AS mean_b,
       a.n AS n_a, b.n AS n_b
FROM a, b
"""


def _q_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-first-purchase: per user, duration = whole
    days from first event to first purchase (event=1) or to the
    corpus-end timestamp (right-censored, event=0); the curve comes
    from functions/stats.py:kaplan_meier — per-duration hash counts, a
    cumulative at-risk window over the tiny duration groups, and
    exp(cumsum(ln(1 - d/n))), all order-pinned so the oracle replays it
    bit-for-bit.  Output: one row per event day (t, n_risk, n_events,
    survival)."""
    from dbt_lab_spark.functions.stats import kaplan_meier

    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select("user_id", "ts", "event_type")
    end = ev.agg(F.max(F.unix_millis("ts")).alias("__end"))
    per_user = ev.groupBy("user_id").agg(
        F.min(F.unix_millis("ts")).alias("__t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_millis("ts"))
        ).alias("__te"),
    )
    subjects = per_user.crossJoin(F.broadcast(end)).select(
        F.floor(
            (F.coalesce(F.col("__te"), F.col("__end")) - F.col("__t0"))
            / F.lit(86400000.0)
        )
        .cast("int")
        .alias("dur_days"),
        F.col("__te").isNotNull().cast("int").alias("event"),
    )
    return kaplan_meier(subjects, "dur_days", "event")


_SQL_SURVIVAL = """
WITH endt AS (SELECT max(epoch_ms(ts)) AS e FROM events),
per_user AS (
  SELECT user_id, min(epoch_ms(ts)) AS t0,
         min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS te
  FROM events GROUP BY user_id
), subjects AS (
  SELECT CAST(floor((COALESCE(te, (SELECT e FROM endt)) - t0) / 86400000.0) AS INT) AS t,
         CASE WHEN te IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM per_user
), per_t AS (
  SELECT t, SUM(ev) AS n_events, COUNT(*) AS total FROM subjects GROUP BY t
), risk AS (
  SELECT t, n_events,
         (SELECT COUNT(*) FROM subjects)
           - COALESCE(SUM(total) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM per_t
), steps AS (
  SELECT t, n_risk, n_events,
         1.0 - n_events / CAST(n_risk AS DOUBLE) AS factor
  FROM risk WHERE n_events > 0
)
SELECT t, n_risk, n_events,
       CASE WHEN MIN(factor) OVER cum <= 0.0 THEN 0.0
            ELSE exp(SUM(CASE WHEN factor > 0 THEN ln(factor) END) OVER cum) END AS survival
FROM steps
WINDOW cum AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def _q_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the hourly
    event-value series (period 24, centered ±12h moving-average trend)
    via functions/stats.py:seasonal_decompose.  Hour sums use the
    DECIMAL money canonicalization so the series itself is
    order-exact; the decomposition is two windows + two broadcast
    joins over the (tiny) rolled-up series.  Output per hour: value,
    trend, seasonal, residual."""
    from dbt_lab_spark.functions.stats import seasonal_decompose

    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select("ts", "value")
    hourly = (
        ev.select(
            F.floor(F.unix_millis("ts") / F.lit(3600000.0)).cast("long").alias("h"),
            money("value").alias("v"),
        )
        .groupBy("h")
        .agg(F.sum("v").cast("double").alias("value"))
    )
    out = seasonal_decompose(hourly, "h", "value", period=24, half_window=12)
    return out.select(
        F.col("t").alias("h"), "value", "trend", "seasonal", "residual"
    )


_SQL_SEASONAL = """
WITH hourly AS (
  SELECT CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS h,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value
  FROM events GROUP BY 1
), trended AS (
  SELECT h, value,
         AVG(value) OVER (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS trend
  FROM hourly
), detr AS (
  SELECT h, value, trend, value - trend AS d, h % 24 AS ph FROM trended
), raw_seasonal AS (
  SELECT ph, AVG(d) AS s_raw FROM detr GROUP BY ph
), grand AS (SELECT AVG(s_raw) AS s_mean FROM raw_seasonal),
seasonal AS (
  SELECT ph, s_raw - (SELECT s_mean FROM grand) AS seasonal FROM raw_seasonal
)
SELECT d.h, d.value, d.trend, s.seasonal, d.d - s.seasonal AS residual
FROM detr d JOIN seasonal s ON s.ph = d.ph
"""


def _vector_roundtrip_audit(decoded: DataFrame) -> DataFrame:
    """Shared audit for vector-shard round trips: per vec_id%4 bucket,
    count, total dimensions, and an integer-exact checksum of the first
    component (floor(x*10000+0.5) of the float32-exact double) — any
    lost or corrupted vector changes a bucket row."""
    return (
        decoded.select(
            (F.col("vec_id") % 4).alias("bucket"),
            F.size("embedding").alias("__d"),
            F.floor(
                F.element_at("embedding", 1).cast("double") * 10000 + F.lit(0.5)
            ).alias("__c"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("__d").alias("sum_dims"),
            F.sum("__c").alias("checksum_q1"),
        )
    )


_SQL_VECTOR_ROUNDTRIP = """
SELECT vec_id % 4 AS bucket,
       COUNT(*) AS n_vecs,
       SUM(len(embedding)) AS sum_dims,
       SUM(CAST(floor(CAST(embedding[1] AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS checksum_q1
FROM embeddings GROUP BY 1
"""


def _q_npy_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NumPy .npy shard round trip: pack (vec_id, embedding) into
    length-prefixed (ids .npy, matrix .npy) shard blobs
    (sources.npy_bytes — format spec v1.0, NumPy-interop pinned in
    tests), read back distributed, audit per bucket.  Full oracle: the
    same audit computed from the embeddings table directly — equality
    proves the round trip lost nothing."""
    from dbt_lab_spark.sources import build_npy_shards, read_npy_vectors

    cat = Catalog(sf_dir)
    emb = scan(spark, cat, "embeddings", ["vec_id", "embedding"])
    return _vector_roundtrip_audit(read_npy_vectors(build_npy_shards(emb, n_shards=8)))


def _q_safetensors_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """safetensors shard round trip (u64 header length + JSON tensor
    table + raw little-endian buffers — the checkpoint interchange
    format): pack, read back distributed, audit per bucket under the
    same direct-from-table oracle as q_npy_ingest."""
    from dbt_lab_spark.sources import build_safetensors_shards, read_safetensors_vectors

    cat = Catalog(sf_dir)
    emb = scan(spark, cat, "embeddings", ["vec_id", "embedding"])
    return _vector_roundtrip_audit(
        read_safetensors_vectors(build_safetensors_shards(emb, n_shards=8))
    )


def _q_arrow_ipc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC stream shard round trip: pack (vec_id, embedding)
    into record-batch stream blobs (sources.build_arrow_ipc_shards —
    the zero-copy interchange format Spark's own Pandas UDF transport
    uses), read back distributed, audit per bucket under the same
    direct-from-table oracle as q_npy_ingest."""
    from dbt_lab_spark.sources import build_arrow_ipc_shards, read_arrow_ipc_vectors

    cat = Catalog(sf_dir)
    emb = scan(spark, cat, "embeddings", ["vec_id", "embedding"])
    return _vector_roundtrip_audit(
        read_arrow_ipc_vectors(build_arrow_ipc_shards(emb, n_shards=8))
    )


_HOLT_ALPHA, _HOLT_BETA = 0.3, 0.1


def _q_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing per user (level + trend, the
    TWO mutually recursive states — one step past the single-state
    EWMA): l_t = a*x_t + (1-a)(l+b), b_t = B*(l_t - l) + (1-B)*b,
    init l_1 = x_1, b_1 = 0.  Spark folds the ordered per-user series
    with one JVM aggregate() over a struct accumulator; the oracle
    replays the same recurrence as a recursive CTE carrying (l, b) —
    both repeat the l_t expression inside the b_t update, so the float
    sequence is operation-identical.  Output per user (< 30): n, last
    level/trend, one-step forecast, rounded to 4."""
    a, bb = _HOLT_ALPHA, _HOLT_BETA
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select("user_id", "ts", "event_id", "value")
    ev = ev.filter(F.col("user_id") < 30)
    arr = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ).alias("__s")
        )
        .select(
            "user_id",
            F.transform("__s", lambda s: s["value"].cast("double")).alias("xs"),
        )
    )

    def new_l(acc, x):
        return F.lit(a) * x + F.lit(1 - a) * (acc["l"] + acc["b"])

    state = F.aggregate(
        F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))),
        F.struct(
            F.element_at("xs", 1).alias("l"), F.lit(0.0).alias("b")
        ),
        lambda acc, x: F.struct(
            new_l(acc, x).alias("l"),
            (
                F.lit(bb) * (new_l(acc, x) - acc["l"]) + F.lit(1 - bb) * acc["b"]
            ).alias("b"),
        ),
    )
    return arr.select(
        "user_id",
        F.size("xs").alias("n_events"),
        F.round(state["l"], 4).alias("level"),
        F.round(state["b"], 4).alias("trend"),
        F.round(state["l"] + state["b"], 4).alias("forecast_1"),
    )


_SQL_HOLT = f"""
WITH RECURSIVE ordered AS (
  SELECT user_id, CAST(value AS DOUBLE) AS x,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events WHERE user_id < 30
), rec(user_id, rn, n, l, b) AS (
  SELECT user_id, rn, n, x, CAST(0.0 AS DOUBLE) FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.rn, o.n,
         {_HOLT_ALPHA} * o.x + {1 - _HOLT_ALPHA} * (r.l + r.b),
         {_HOLT_BETA} * (({_HOLT_ALPHA} * o.x + {1 - _HOLT_ALPHA} * (r.l + r.b)) - r.l)
           + {1 - _HOLT_BETA} * r.b
  FROM rec r JOIN ordered o ON o.user_id = r.user_id AND o.rn = r.rn + 1
)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       round(l, 4) AS level, round(b, 4) AS trend,
       round(l + b, 4) AS forecast_1
FROM rec WHERE rn = n
"""


def _q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean of extended price per return flag — the robust
    center estimate: drop the lowest and highest decile by the
    integer-rational rank rule (rn*10 > n AND rn*10 <= 9*n — no p*n
    float), average the exact decimal middle.  One rank window over
    the group, then a plain aggregate."""
    cat = Catalog(sf_dir)
    li = scan(spark, cat, "lineitem", ["l_returnflag", "l_extendedprice"])
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", F.monotonically_increasing_id()
    )
    ranked = li.select(
        "l_returnflag",
        money("l_extendedprice").alias("v"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("l_returnflag")).alias("n"),
    )
    kept = ranked.filter(
        (F.col("rn") * 10 > F.col("n")) & (F.col("rn") * 10 <= 9 * F.col("n"))
    )
    return kept.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.round(F.sum("v").cast("double") / F.count(F.lit(1)), 4).alias("trimmed_mean"),
    )


_SQL_TRIMMED_MEAN = """
WITH ranked AS (
  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
)
SELECT l_returnflag, COUNT(*) AS n_kept,
       round(CAST(SUM(v) AS DOUBLE) / COUNT(*), 4) AS trimmed_mean
FROM ranked WHERE rn * 10 > n AND rn * 10 <= 9 * n
GROUP BY l_returnflag
"""


def _q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-diversity audit: Shannon entropy (nats) of the language
    mix per source, plus its normalized form (divided by ln of the
    distinct-language count; 1-lang sources get 0).  Two hash
    aggregates — the governance check that a source hasn't collapsed
    to one language/domain."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["source", "lang"])
    per = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    tot = per.groupBy("source").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("k")
    )
    return (
        per.join(tot, "source")
        .groupBy("source")
        .agg(
            F.max("n").alias("n_docs"),
            F.max("k").cast("int").alias("n_langs"),
            F.round(
                -F.sum(
                    (F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("n"))
                ),
                6,
            ).alias("entropy"),
            F.round(
                F.when(F.max("k") > 1,
                       -F.sum((F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("n")))
                       / F.log(F.max("k").cast("double"))).otherwise(F.lit(0.0)),
                6,
            ).alias("entropy_norm"),
        )
    )


_SQL_ENTROPY = """
WITH per AS (
  SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2
), tot AS (
  SELECT source, SUM(c) AS n, COUNT(*) AS k FROM per GROUP BY 1
)
SELECT p.source,
       MAX(t.n) AS n_docs,
       CAST(MAX(t.k) AS INT) AS n_langs,
       round(-SUM((c / CAST(t.n AS DOUBLE)) * ln(c / CAST(t.n AS DOUBLE))), 6) AS entropy,
       round(CASE WHEN MAX(t.k) > 1
                  THEN -SUM((c / CAST(t.n AS DOUBLE)) * ln(c / CAST(t.n AS DOUBLE)))
                       / ln(CAST(MAX(t.k) AS DOUBLE))
                  ELSE 0.0 END, 6) AS entropy_norm
FROM per p JOIN tot t ON t.source = p.source
GROUP BY p.source
"""


def _q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on the hourly money-exact value
    series: S = sum over hour pairs i<j of sign(x_j - x_i), tau_a =
    S / (n(n-1)/2).  The pair join runs over the ROLLED-UP series
    (~hours^2, not events^2 — the audit-scale shape; at corpus scale
    the series length stays bounded by the rollup grain, not the data
    volume).  Integer S and exact decimal comparisons make the result
    engine-exact.  One row: (s_stat, n_hours, tau_a)."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select("ts", "value")
    hourly = (
        ev.select(
            F.floor(F.unix_millis("ts") / F.lit(3600000.0)).cast("long").alias("h"),
            money("value").alias("v"),
        )
        .groupBy("h")
        .agg(F.sum("v").alias("y"))
    )
    a = hourly.select(F.col("h").alias("hi"), F.col("y").alias("yi"))
    b = hourly.select(F.col("h").alias("hj"), F.col("y").alias("yj"))
    pairs = a.join(b, F.col("hi") < F.col("hj"))
    agg = pairs.agg(
        F.sum(F.signum((F.col("yj") - F.col("yi")).cast("double")).cast("long")).alias(
            "s_stat"
        )
    )
    n = hourly.count()
    return agg.select(
        "s_stat",
        F.lit(n).cast("bigint").alias("n_hours"),
        F.round(F.col("s_stat") / F.lit(n * (n - 1) / 2.0), 6).alias("tau_a"),
    )


_SQL_MANN_KENDALL = """
WITH hourly AS (
  SELECT CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS h,
         SUM(CAST(value AS DECIMAL(18,2))) AS y
  FROM events GROUP BY 1
), n AS (SELECT COUNT(*) AS n FROM hourly),
s AS (
  SELECT CAST(SUM(CAST(sign(CAST(b.y - a.y AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s_stat
  FROM hourly a JOIN hourly b ON a.h < b.h
)
SELECT s.s_stat, (SELECT n FROM n) AS n_hours,
       round(s.s_stat / ((SELECT n FROM n) * ((SELECT n FROM n) - 1) / 2.0), 6) AS tau_a
FROM s
"""


def _q_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of event value across event types — does the mean
    differ by type?  functions/stats.py:anova_oneway: two hash
    aggregates (group moments, global reduce) and a scalar formula;
    nothing row-scale after the first aggregate.  F rounded to 4 (the
    sum-of-squares accumulation order legitimately differs across
    engines at ~1e-12 relative)."""
    from dbt_lab_spark.functions.stats import anova_oneway

    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select("event_type", "value")
    out = anova_oneway(ev, "event_type", "value")
    return out.select(
        F.round("f_stat", 4).alias("f_stat"), "df_between", "df_within", "n"
    )


_SQL_ANOVA = """
WITH g AS (
  SELECT event_type, COUNT(*) AS n, SUM(CAST(value AS DOUBLE)) AS s,
         SUM(CAST(value AS DOUBLE) * CAST(value AS DOUBLE)) AS ss
  FROM events GROUP BY 1
), tot AS (
  SELECT SUM(n) AS n, SUM(s) AS s, SUM(ss) AS ss, COUNT(*) AS k,
         SUM(s * s / n) AS sb
  FROM g
)
SELECT round(((sb - s * s / n) / (k - 1)) / ((ss - sb) / (n - k)), 4) AS f_stat,
       CAST(k - 1 AS INT) AS df_between,
       CAST(n - k AS BIGINT) AS df_within,
       CAST(n AS BIGINT) AS n
FROM tot
"""


def _q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between an order's total price and its
    line count — the monotone-association complement to the Pearson
    q_corr_matrix.  Average-rank ties + the Pearson formula on ranks
    from exact sums (half-integer ranks and their products stay exact
    in double; the big final products are single IEEE ops, identical
    in both engines).  The rank windows are global over the per-order
    rollup — at corpus scale rank via range-partitioned sort or the
    sketch-NTILE path; the statistic itself stays one tiny reduce."""
    from dbt_lab_spark.functions.stats import spearman_corr

    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_orderkey", "o_totalprice"])
    li = scan(spark, cat, "lineitem", ["l_orderkey"])
    per_order = orders.join(
        li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
            F.count(F.lit(1)).alias("n_lines")
        ),
        "o_orderkey",
    ).select(money("o_totalprice").alias("price"), "n_lines")
    out = spearman_corr(per_order, "price", "n_lines")
    return out.select(F.round("spearman", 6).alias("spearman"), "n")


_SQL_SPEARMAN = """
WITH per_order AS (
  SELECT CAST(o.o_totalprice AS DECIMAL(18,2)) AS price, l.n_lines
  FROM orders o JOIN (
    SELECT l_orderkey, COUNT(*) AS n_lines FROM lineitem GROUP BY 1
  ) l ON l.l_orderkey = o.o_orderkey
), ranked AS (
  SELECT avg(CAST(rx AS DOUBLE)) OVER (PARTITION BY price) AS rx,
         avg(CAST(ry AS DOUBLE)) OVER (PARTITION BY n_lines) AS ry
  FROM (
    SELECT price, n_lines,
           row_number() OVER (ORDER BY price) AS rx,
           row_number() OVER (ORDER BY n_lines) AS ry
    FROM per_order
  )
), agg AS (
  SELECT COUNT(*) AS n, SUM(rx) AS sx, SUM(ry) AS sy,
         SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy, SUM(rx * ry) AS sxy
  FROM ranked
)
SELECT round(CASE WHEN sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy) > 0
                  THEN (n * sxy - sx * sy)
                       / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             END, 6) AS spearman,
       CAST(n AS BIGINT) AS n
FROM agg
"""


def _q_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per order priority: integer
    day latencies from the orders-lineitem join, summarized with count,
    mean (exact integer sum / count), and exact discrete p50/p95 via
    the integer-rational PERCENTILE_DISC shape (rn*den >= num*n — no
    p*n float).  The supply-chain SLA rollup."""
    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_orderkey", "o_orderdate", "o_orderpriority"])
    li = scan(spark, cat, "lineitem", ["l_orderkey", "l_shipdate"])
    lat = orders.join(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
    ).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").alias("lat"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        "lat", F.monotonically_increasing_id()
    )
    ranked = lat.select(
        "o_orderpriority",
        "lat",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("o_orderpriority")).alias("n"),
    )

    def disc(num: int, den: int, alias: str):
        return F.min(
            F.when(F.col("rn") * den >= F.lit(num) * F.col("n"), F.col("lat"))
        ).alias(alias)

    return ranked.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("lat") / F.count(F.lit(1)), 4).alias("mean_days"),
        disc(1, 2, "p50_days"),
        disc(19, 20, "p95_days"),
    )


_SQL_FULFILLMENT_LATENCY = """
WITH lat AS (
  SELECT o.o_orderpriority,
         date_diff('day', o.o_orderdate, l.l_shipdate) AS lat
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
), ranked AS (
  SELECT o_orderpriority, lat,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY lat) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM lat
)
SELECT o_orderpriority,
       COUNT(*) AS n_lines,
       round(SUM(lat) / CAST(COUNT(*) AS DOUBLE), 4) AS mean_days,
       MIN(CASE WHEN rn * 2 >= 1 * n THEN lat END) AS p50_days,
       MIN(CASE WHEN rn * 20 >= 19 * n THEN lat END) AS p95_days
FROM ranked GROUP BY o_orderpriority
"""


def _q_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting-baseline bakeoff on the hourly money-exact value
    series: naive (lag 1), seasonal-naive (lag 24), and trailing-24h
    moving average, each evaluated on the last 144 hours with MAE and
    MAPE.  All three forecasts are lag/window expressions over the
    rolled-up series — the deterministic sequential shapes — and the
    holdout split is a fixed offset from the series end, so the whole
    evaluation replays exactly in the oracle.  Output: one row per
    method."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select("ts", "value")
    hourly = (
        ev.select(
            F.floor(F.unix_millis("ts") / F.lit(3600000.0)).cast("long").alias("h"),
            money("value").alias("v"),
        )
        .groupBy("h")
        .agg(F.sum("v").cast("double").alias("y"))
    )
    w = Window.orderBy("h")
    w_ma = Window.orderBy("h").rowsBetween(-24, -1)
    preds = hourly.select(
        "h",
        "y",
        F.lag("y", 1).over(w).alias("naive"),
        F.lag("y", 24).over(w).alias("snaive"),
        F.avg("y").over(w_ma).alias("ma24"),
    )
    maxh = hourly.agg(F.max("h").alias("__mx"))
    test = preds.crossJoin(F.broadcast(maxh)).filter(
        F.col("h") > F.col("__mx") - 144
    )
    rows = []
    for method in ("naive", "snaive", "ma24"):
        rows.append(
            test.filter(F.col(method).isNotNull()).agg(
                F.lit(method).alias("method"),
                F.round(F.avg(F.abs(F.col("y") - F.col(method))), 4).alias("mae"),
                F.round(
                    F.avg(F.abs(F.col("y") - F.col(method)) / F.abs(F.col("y"))), 6
                ).alias("mape"),
                F.count(F.lit(1)).alias("n_eval"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


_SQL_FORECAST_EVAL = """
WITH hourly AS (
  SELECT CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS h,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS y
  FROM events GROUP BY 1
), preds AS (
  SELECT h, y,
         lag(y, 1) OVER (ORDER BY h) AS naive,
         lag(y, 24) OVER (ORDER BY h) AS snaive,
         avg(y) OVER (ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS ma24
  FROM hourly
), test AS (
  SELECT * FROM preds WHERE h > (SELECT max(h) FROM hourly) - 144
)
SELECT 'naive' AS method, round(avg(abs(y - naive)), 4) AS mae,
       round(avg(abs(y - naive) / abs(y)), 6) AS mape, COUNT(*) AS n_eval
FROM test WHERE naive IS NOT NULL
UNION ALL
SELECT 'snaive', round(avg(abs(y - snaive)), 4),
       round(avg(abs(y - snaive) / abs(y)), 6), COUNT(*)
FROM test WHERE snaive IS NOT NULL
UNION ALL
SELECT 'ma24', round(avg(abs(y - ma24)), 4),
       round(avg(abs(y - ma24) / abs(y)), 6), COUNT(*)
FROM test WHERE ma24 IS NOT NULL
"""


def _q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per customer recency (days from last
    order to corpus end), frequency (order count), monetary (exact
    decimal spend), each scored 1-5 by percent_rank quintile (identical
    (rank-1)/(n-1) definition in both engines; ties share a rank so
    the buckets are deterministic).  Output: one row per RFM segment
    with customer count and total spend — the classic CRM rollup."""
    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_custkey", "o_orderdate", "o_totalprice"])
    end = orders.agg(F.max("o_orderdate").alias("__end"))
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(money("o_totalprice")).alias("monetary"),
        )
        .crossJoin(F.broadcast(end))
        .withColumn("recency", F.datediff("__end", "__last"))
    )

    def quint(col, asc: bool) -> F.Column:
        w = Window.orderBy(F.col(col).asc() if asc else F.col(col).desc())
        return (F.least(F.floor(F.percent_rank().over(w) * 5), F.lit(4)) + 1).cast("int")

    scored = per_cust.select(
        "o_custkey",
        quint("recency", asc=True).alias("r"),   # recent (small) = best = 1
        quint("frequency", asc=False).alias("f"),
        quint("monetary", asc=False).alias("m"),
        "monetary",
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("monetary").cast("double").alias("total_spend"),
    )


_SQL_RFM = """
WITH endd AS (SELECT max(o_orderdate) AS e FROM orders),
per_cust AS (
  SELECT o_custkey,
         date_diff('day', max(o_orderdate), (SELECT e FROM endd)) AS recency,
         COUNT(*) AS frequency,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders GROUP BY o_custkey
), scored AS (
  SELECT o_custkey, monetary,
         CAST(least(floor(percent_rank() OVER (ORDER BY recency ASC) * 5), 4) + 1 AS INT) AS r,
         CAST(least(floor(percent_rank() OVER (ORDER BY frequency DESC) * 5), 4) + 1 AS INT) AS f,
         CAST(least(floor(percent_rank() OVER (ORDER BY monetary DESC) * 5), 4) + 1 AS INT) AS m
  FROM per_cust
)
SELECT r, f, m, COUNT(*) AS n_customers,
       CAST(SUM(monetary) AS DOUBLE) AS total_spend
FROM scored GROUP BY r, f, m
"""


def _q_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classes: parts ranked by exact-decimal
    revenue; class A = first 80% of cumulative revenue, B = next 15%,
    C = tail.  The cumulative window runs over parts (already rolled
    up), ordered (revenue desc, partkey) so the running share is a
    deterministic sequential sum.  Output per class: part count,
    revenue, share rounded to 6."""
    cat = Catalog(sf_dir)
    li = scan(spark, cat, "lineitem", ["l_partkey", "l_extendedprice"])
    per_part = li.groupBy("l_partkey").agg(
        F.sum(money("l_extendedprice")).alias("rev")
    )
    total = per_part.agg(F.sum("rev").alias("__tot"))
    w = Window.orderBy(F.col("rev").desc(), F.col("l_partkey").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    classed = (
        per_part.crossJoin(F.broadcast(total))
        .withColumn("__cum", F.sum("rev").over(w))
        .withColumn(
            "cls",
            F.when(
                (F.col("__cum").cast("double") / F.col("__tot").cast("double")) <= 0.80,
                F.lit("A"),
            )
            .when(
                (F.col("__cum").cast("double") / F.col("__tot").cast("double")) <= 0.95,
                F.lit("B"),
            )
            .otherwise(F.lit("C")),
        )
    )
    return classed.groupBy("cls").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("rev").cast("double").alias("revenue"),
        F.round(
            F.sum("rev").cast("double") / F.max(F.col("__tot").cast("double")), 6
        ).alias("share"),
    )


_SQL_ABC_PARETO = """
WITH per_part AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
  FROM lineitem GROUP BY l_partkey
), tot AS (SELECT SUM(rev) AS t FROM per_part),
classed AS (
  SELECT l_partkey, rev,
         CASE WHEN CAST(SUM(rev) OVER w AS DOUBLE) / CAST((SELECT t FROM tot) AS DOUBLE) <= 0.80 THEN 'A'
              WHEN CAST(SUM(rev) OVER w AS DOUBLE) / CAST((SELECT t FROM tot) AS DOUBLE) <= 0.95 THEN 'B'
              ELSE 'C' END AS cls
  FROM per_part
  WINDOW w AS (ORDER BY rev DESC, l_partkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT cls, COUNT(*) AS n_parts,
       CAST(SUM(rev) AS DOUBLE) AS revenue,
       round(CAST(SUM(rev) AS DOUBLE) / CAST((SELECT t FROM tot) AS DOUBLE), 6) AS share
FROM classed GROUP BY cls
"""


def _q_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 2-itemsets over order baskets (market-basket mining):
    distinct parts per order self-joined within the order key
    (p_a < p_b), pair support counted, thresholded at >= 3, top-50 by
    (support desc, pair asc).  Scale shape: the join key is the order —
    baskets are small (O(lines/order)), so pair fan-out per order is
    bounded and the shuffle moves basket-local pairs, never a global
    cross join; support counting is a map-side-combined aggregate."""
    cat = Catalog(sf_dir)
    li = scan(spark, cat, "lineitem", ["l_orderkey", "l_partkey"]).distinct()
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p_a"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p_b"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("p_a") < F.col("p_b"))
        .groupBy("p_a", "p_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 3)
    )
    return pairs.orderBy(
        F.col("support").desc(), F.col("p_a").asc(), F.col("p_b").asc()
    ).limit(50)


_SQL_COPURCHASE = """
WITH basket AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS p_a, b.l_partkey AS p_b, COUNT(*) AS support
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 3
)
SELECT p_a, p_b, support FROM pairs
ORDER BY support DESC, p_a, p_b LIMIT 50
"""


def _q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules from the 2-itemset pairs: both directions of
    every supported pair scored with confidence = supp(ab)/supp(a) and
    lift = conf / (supp(b)/n_orders); kept at confidence >= 0.05
    (the synthetic baskets are near-random, so absolute confidences
    are small — the filter still separates the top decile), top-40
    under a total order.  Per-item supports broadcast back onto
    the (small) pair frame — nothing row-scale after the basket join."""
    cat = Catalog(sf_dir)
    li = scan(spark, cat, "lineitem", ["l_orderkey", "l_partkey"]).distinct()
    n_orders = li.select("l_orderkey").distinct().count()
    item = li.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count(F.lit(1)).alias("item_supp")
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p_a"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p_b"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("p_a") != F.col("p_b"))
        .groupBy("p_a", "p_b")
        .agg(F.count(F.lit(1)).alias("pair_supp"))
        .filter(F.col("pair_supp") >= 3)
    )
    rules = (
        pairs.join(F.broadcast(item.withColumnRenamed("item", "p_a")), "p_a")
        .withColumnRenamed("item_supp", "supp_a")
        .join(F.broadcast(item.withColumnRenamed("item", "p_b")), "p_b")
        .withColumnRenamed("item_supp", "supp_b")
        .select(
            "p_a",
            "p_b",
            "pair_supp",
            (F.col("pair_supp") / F.col("supp_a")).alias("confidence"),
            (
                (F.col("pair_supp") / F.col("supp_a"))
                / (F.col("supp_b") / F.lit(float(n_orders)))
            ).alias("lift"),
        )
        .filter(F.col("confidence") >= 0.05)
    )
    return (
        rules.orderBy(
            F.col("confidence").desc(),
            F.col("lift").desc(),
            F.col("p_a").asc(),
            F.col("p_b").asc(),
        )
        .limit(40)
        .select(
            "p_a",
            "p_b",
            "pair_supp",
            F.round("confidence", 6).alias("confidence"),
            F.round("lift", 6).alias("lift"),
        )
    )


_SQL_ASSOC_RULES = """
WITH basket AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM basket),
item AS (
  SELECT l_partkey AS item, COUNT(*) AS item_supp FROM basket GROUP BY 1
), pairs AS (
  SELECT a.l_partkey AS p_a, b.l_partkey AS p_b, COUNT(*) AS pair_supp
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
), rules AS (
  SELECT p.p_a, p.p_b, p.pair_supp,
         p.pair_supp / CAST(ia.item_supp AS DOUBLE) AS confidence,
         (p.pair_supp / CAST(ia.item_supp AS DOUBLE))
           / (ib.item_supp / CAST((SELECT n FROM n) AS DOUBLE)) AS lift
  FROM pairs p
  JOIN item ia ON ia.item = p.p_a
  JOIN item ib ON ib.item = p.p_b
  WHERE p.pair_supp / CAST(ia.item_supp AS DOUBLE) >= 0.05
)
SELECT p_a, p_b, pair_supp,
       round(confidence, 6) AS confidence, round(lift, 6) AS lift
FROM rules
ORDER BY confidence DESC, lift DESC, p_a, p_b LIMIT 40
"""


def _q_item_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering similarity: cosine over basket
    incidence vectors, computed WITHOUT materializing vectors —
    co-count / sqrt(supp_a * supp_b) from the within-order pair join
    (the 2-itemset shape) and broadcast per-item supports.  Top-3
    neighbors per item among pairs co-occurring >= 2 times, total
    order.  The recommend-similar-items primitive."""
    cat = Catalog(sf_dir)
    li = scan(spark, cat, "lineitem", ["l_orderkey", "l_partkey"]).distinct()
    item = li.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count(F.lit(1)).alias("item_supp")
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p_a"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p_b"))
    co = (
        a.join(b, "ok")
        .filter(F.col("p_a") != F.col("p_b"))
        .groupBy("p_a", "p_b")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= 2)
    )
    scored = (
        co.join(F.broadcast(item.withColumnRenamed("item", "p_a")), "p_a")
        .withColumnRenamed("item_supp", "supp_a")
        .join(F.broadcast(item.withColumnRenamed("item", "p_b")), "p_b")
        .withColumnRenamed("item_supp", "supp_b")
        .withColumn(
            "cosine",
            F.col("co") / F.sqrt(F.col("supp_a") * F.col("supp_b").cast("double")),
        )
    )
    w = Window.partitionBy("p_a").orderBy(
        F.col("cosine").desc(), F.col("p_b").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("p_a", "p_b", F.round("cosine", 6).alias("cosine"), "rank")
    )


_SQL_ITEM_SIM = """
WITH basket AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), item AS (
  SELECT l_partkey AS item, COUNT(*) AS item_supp FROM basket GROUP BY 1
), co AS (
  SELECT a.l_partkey AS p_a, b.l_partkey AS p_b, COUNT(*) AS co
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), scored AS (
  SELECT c.p_a, c.p_b,
         c.co / sqrt(ia.item_supp * CAST(ib.item_supp AS DOUBLE)) AS cosine
  FROM co c
  JOIN item ia ON ia.item = c.p_a
  JOIN item ib ON ib.item = c.p_b
), ranked AS (
  SELECT p_a, p_b, cosine,
         row_number() OVER (PARTITION BY p_a
                            ORDER BY cosine DESC, p_b ASC) AS rank
  FROM scored
)
SELECT p_a, p_b, round(cosine, 6) AS cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


def _q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch marketing attribution: for each user's FIRST
    purchase, the strictly-preceding event path (ordered by ts,
    event_id) earns credit under three standard models at once —
    first-touch, last-touch, and linear (1/path_len per touch).
    Per event_type: summed credits + touch count.  Shapes: one
    per-user min-struct aggregate, one equi-join back, two windows on
    the path — all user-keyed, no global sort."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select("user_id", "ts", "event_id", "event_type")
    first_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.struct("ts", "event_id")).alias("__fp"))
    )
    path = (
        ev.join(first_purchase, "user_id")
        .filter(F.struct("ts", "event_id") < F.col("__fp"))
        .select("user_id", "ts", "event_id", "event_type")
    )
    w_asc = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_desc = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    w_all = Window.partitionBy("user_id")
    credited = path.select(
        "event_type",
        (F.row_number().over(w_asc) == 1).cast("int").alias("__first"),
        (F.row_number().over(w_desc) == 1).cast("int").alias("__last"),
        (F.lit(1.0) / F.count(F.lit(1)).over(w_all)).alias("__linear"),
    )
    return credited.groupBy("event_type").agg(
        F.sum("__first").alias("first_touch"),
        F.sum("__last").alias("last_touch"),
        F.round(F.sum("__linear"), 6).alias("linear"),
        F.count(F.lit(1)).alias("n_touches"),
    )


_SQL_ATTRIBUTION = """
WITH fp AS (
  SELECT user_id, ts AS fts, event_id AS fid FROM (
    SELECT user_id, ts, event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events WHERE event_type = 'purchase'
  ) WHERE rn = 1
), path AS (
  SELECT e.user_id, e.ts, e.event_id, e.event_type
  FROM events e JOIN fp ON fp.user_id = e.user_id
  WHERE (e.ts, e.event_id) < (fp.fts, fp.fid)
), credited AS (
  SELECT event_type,
         CASE WHEN row_number() OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS first_t,
         CASE WHEN row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) = 1 THEN 1 ELSE 0 END AS last_t,
         1.0 / count(*) OVER (PARTITION BY user_id) AS lin
  FROM path
)
SELECT event_type,
       SUM(first_t) AS first_touch,
       SUM(last_t) AS last_touch,
       round(SUM(lin), 6) AS linear,
       COUNT(*) AS n_touches
FROM credited GROUP BY event_type
"""


def _q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint estimate on the hourly money-exact value
    series: S_t = cumulative sum of (x - global mean); the estimated
    change point is argmax |S_t| (ties to the earliest hour).  The
    series rolls up first (money-decimal sums, order-exact), so the
    window runs over hours, not events.  One row: (h_change,
    max_abs_cusum, mean_hourly, n_hours)."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select("ts", "value")
    hourly = (
        ev.select(
            F.floor(F.unix_millis("ts") / F.lit(3600000.0)).cast("long").alias("h"),
            money("value").alias("v"),
        )
        .groupBy("h")
        .agg(F.sum("v").alias("__sv"))
    )
    # mean in DOUBLE (exact decimal total cast first): decimal-division
    # scale rules differ between engines, double division does not
    mean = hourly.agg(
        (F.sum("__sv").cast("double") / F.count(F.lit(1))).alias("__mean"),
        F.count(F.lit(1)).alias("__n"),
    )
    w_cum = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    cusum = (
        hourly.crossJoin(F.broadcast(mean))
        .withColumn(
            "__s", F.sum(F.col("__sv").cast("double") - F.col("__mean")).over(w_cum)
        )
    )
    w_rank = Window.orderBy(F.abs(F.col("__s")).desc(), F.col("h").asc())
    return (
        cusum.withColumn("__rk", F.row_number().over(w_rank))
        .filter(F.col("__rk") == 1)
        .select(
            F.col("h").alias("h_change"),
            F.round(F.abs(F.col("__s")), 4).alias("max_abs_cusum"),
            F.round("__mean", 4).alias("mean_hourly"),
            F.col("__n").alias("n_hours"),
        )
    )


_SQL_CUSUM = """
WITH hourly AS (
  SELECT CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS h,
         SUM(CAST(value AS DECIMAL(18,2))) AS sv
  FROM events GROUP BY 1
), m AS (
  SELECT CAST(SUM(sv) AS DOUBLE) / COUNT(*) AS mean, COUNT(*) AS n FROM hourly
), cusum AS (
  SELECT h,
         SUM(CAST(sv AS DOUBLE) - (SELECT mean FROM m))
           OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM hourly
), ranked AS (
  SELECT h, s, row_number() OVER (ORDER BY abs(s) DESC, h ASC) AS rk FROM cusum
)
SELECT h AS h_change, round(abs(s), 4) AS max_abs_cusum,
       round((SELECT mean FROM m), 4) AS mean_hourly,
       (SELECT n FROM m) AS n_hours
FROM ranked WHERE rk = 1
"""


def _q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling fingerprints per document: window count +
    min/max fingerprint (the winnowing selection primitives).  Exact
    integer arithmetic — the oracle reproduces every hash bit-for-bit."""
    from dbt_lab_spark.functions.text import rolling_hashes

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text"])
    rh = docs.select("doc_id", rolling_hashes("text", k=4).alias("rhs"))
    return rh.select(
        "doc_id",
        F.size("rhs").alias("n_windows"),
        F.array_min("rhs").alias("min_fp"),
        F.array_max("rhs").alias("max_fp"),
    )


_SQL_ROLLING_FINGERPRINT = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), codes AS (
  SELECT doc_id,
         [COALESCE(CAST(list_sum([ascii(c) FOR c IN string_split(tok, '')]) AS BIGINT),
                   CAST(0 AS BIGINT)) FOR tok IN t] AS cs
  FROM toks
), rh AS (
  SELECT doc_id,
         CASE WHEN len(cs) < 4
              THEN [list_reduce(list_prepend(CAST(0 AS BIGINT), cs),
                                (acc, c) -> (acc * 257 + c) % 1000000007)]
              ELSE [list_reduce(list_prepend(CAST(0 AS BIGINT), cs[i:i+3]),
                                (acc, c) -> (acc * 257 + c) % 1000000007)
                    FOR i IN generate_series(1, len(cs) - 3)]
         END AS rhs
  FROM codes
)
SELECT doc_id, CAST(len(rhs) AS INTEGER) AS n_windows,
       list_min(rhs) AS min_fp, list_max(rhs) AS max_fp
FROM rh
"""


def _q_trigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated trigram-LM quality score per source: corpus-trained
    tri/bi/uni count tables, per-trigram interpolated log-prob, doc
    mean, source rollup.  Every term is exact-count arithmetic plus
    ln(), mirrored term-for-term in the oracle."""
    from dbt_lab_spark.llm.curation import trigram_lm_score

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text", "source"])
    scored = trigram_lm_score(docs)
    return (
        scored.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("trigram_lm_score"), 4).alias("avg_lm_score"),
            F.sum("n_trigrams").alias("total_trigrams"),
        )
    )


_SQL_TRIGRAM_LM = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), uni AS (
  SELECT tok, COUNT(*) AS cu FROM (
    SELECT unnest(t) AS tok FROM toks
  ) WHERE tok <> '' GROUP BY tok
), totals AS (
  SELECT SUM(cu) AS n, COUNT(*) AS v FROM uni
), bi AS (
  SELECT bg, COUNT(*) AS cb FROM (
    SELECT unnest([array_to_string(t[i:i+1], ' ')
                   FOR i IN generate_series(1, len(t) - 1)]) AS bg
    FROM toks WHERE len(t) >= 2
  ) GROUP BY bg
), stream AS (
  SELECT doc_id,
         unnest([array_to_string(t[i:i+2], ' ')
                 FOR i IN generate_series(1, len(t) - 2)]) AS tg,
         unnest([array_to_string(t[i:i+1], ' ')
                 FOR i IN generate_series(1, len(t) - 2)]) AS bg_ctx,
         unnest([array_to_string(t[i+1:i+2], ' ')
                 FOR i IN generate_series(1, len(t) - 2)]) AS bg,
         unnest([t[i+1] FOR i IN generate_series(1, len(t) - 2)]) AS uni_ctx,
         unnest([t[i+2] FOR i IN generate_series(1, len(t) - 2)]) AS tok
  FROM toks WHERE len(t) >= 3
), tri AS (
  SELECT tg, COUNT(*) AS ct FROM stream GROUP BY tg
), scored AS (
  SELECT s.doc_id,
         ln(0.5 * tri.ct / bc.cb
          + 0.3 * b.cb / uc.cu
          + 0.2 * (u.cu + 1.0) / (totals.n + totals.v)) AS lnp
  FROM stream s
  JOIN tri ON s.tg = tri.tg
  JOIN bi bc ON s.bg_ctx = bc.bg
  JOIN bi b ON s.bg = b.bg
  JOIN uni uc ON s.uni_ctx = uc.tok
  JOIN uni u ON s.tok = u.tok
  CROSS JOIN totals
), per_doc AS (
  SELECT doc_id, ROUND(AVG(lnp), 4) AS trigram_lm_score, COUNT(*) AS n_trigrams
  FROM scored GROUP BY doc_id
)
SELECT source, COUNT(*) AS n_docs,
       ROUND(AVG(trigram_lm_score), 4) AS avg_lm_score,
       SUM(n_trigrams) AS total_trigrams
FROM per_doc JOIN documents USING (doc_id)
GROUP BY source
"""


def _q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated 8-token spans across documents (substring-level exact
    dedup, Lee et al. 2022 shape): Rabin-Karp window fingerprints ->
    one span-fp aggregate -> spans in >= 2 distinct docs.  Exact
    integer hashes, so the oracle recomputes every span bit-for-bit."""
    from dbt_lab_spark.llm.dedup import dup_spans

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text"])
    return dup_spans(docs, span_tokens=8, min_docs=2)


_SQL_DUP_SPANS = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), codes AS (
  SELECT doc_id,
         [COALESCE(CAST(list_sum([ascii(c) FOR c IN string_split(tok, '')]) AS BIGINT),
                   CAST(0 AS BIGINT)) FOR tok IN t] AS cs
  FROM toks
), rh AS (
  SELECT doc_id,
         CASE WHEN len(cs) < 8
              THEN [list_reduce(list_prepend(CAST(0 AS BIGINT), cs),
                                (acc, c) -> (acc * 257 + c) % 1000000007)]
              ELSE [list_reduce(list_prepend(CAST(0 AS BIGINT), cs[i:i+7]),
                                (acc, c) -> (acc * 257 + c) % 1000000007)
                    FOR i IN generate_series(1, len(cs) - 7)]
         END AS rhs
  FROM codes
), ex AS (
  SELECT doc_id, unnest(rhs) AS fp FROM rh
)
SELECT fp, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences,
       MIN(doc_id) AS min_doc_id
FROM ex GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2
"""


# ---------------------------------------------------------------------------
# embeddings: similarity search
# ---------------------------------------------------------------------------


def _q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for 5 query vectors over the corpus.
    Oracle mirrors the expression dot/(|a|*|b|) with list_dot_product."""
    cat = Catalog(sf_dir)
    emb = scan(spark, cat, "embeddings", ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    corpus = emb.filter(F.col("vec_id") >= 5)
    return brute_force_knn(corpus, queries, k=10)


_SQL_KNN_BRUTEFORCE = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
), c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id >= 5
), scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv) /
         (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
  FROM c, q
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
"""


def _q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate KNN — rows-only check (recall vs exact
    KNN is pin-tested in tests/)."""
    cat = Catalog(sf_dir)
    emb = scan(spark, cat, "embeddings", ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    corpus = emb.filter(F.col("vec_id") >= 5)
    return lsh_knn(corpus, queries, k=10, num_planes=6, num_tables=6)


def _q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate KNN: spherical-k-means coarse quantizer (trained
    in 3 distributed Lloyd iterations), queries probe the 4 nearest of
    8 clusters.  Rows-only check; recall vs exact KNN is pin-tested in
    tests/test_llm_ops.py."""
    from dbt_lab_spark.llm.similarity import ivf_centroids, ivf_knn

    cat = Catalog(sf_dir)
    emb = scan(spark, cat, "embeddings", ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    corpus = emb.filter(F.col("vec_id") >= 5)
    cents = ivf_centroids(corpus, num_centroids=8, iters=3)
    return ivf_knn(corpus, queries, cents, k=10, nprobe=4)


def _q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (cosine >= 0.4; the driver
    embeddings are near-random, max pairwise cosine ≈ 0.51, so the
    threshold sits where real pairs exist).  All-pairs comparison — the
    oracle-checkable verification baseline; the scale path is the LSH
    variant below (q_embedding_neardup_lsh)."""
    from dbt_lab_spark.functions.vectors import dot, l2_norm

    cat = Catalog(sf_dir)
    emb = scan(spark, cat, "embeddings", ["vec_id", "embedding"])
    # Precompute each row's norm ONCE in the projection: the naive
    # cosine_similarity(v_a, v_b) re-aggregates both norms per PAIR —
    # 3 interpreted O(d) folds x |pairs| instead of 1.  The division
    # dot/(na*nb) is the exact same float expression the oracle runs,
    # so results stay bit-identical; only the per-pair work drops 3x.
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        to_double_array("embedding").alias("v_a"),
    ).withColumn("__na", l2_norm(F.col("v_a")))
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        to_double_array("embedding").alias("v_b"),
    ).withColumn("__nb", l2_norm(F.col("v_b")))
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot(F.col("v_a"), F.col("v_b")) / (F.col("__na") * F.col("__nb")))
        .filter(F.col("cosine") >= 0.4)
    )
    return pairs.select("id_a", "id_b", "cosine")


_SQL_EMBEDDING_NEARDUP = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.e, b.e) /
         (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cosine
  FROM v a JOIN v b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.4
"""


def _q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH candidate generation + exact cosine verify — the
    100 TB shape of q_embedding_neardup (shuffle on (table, bucket); no
    cross join).  Rows-only check; recall vs the exact variant is
    pin-tested in tests/."""
    cat = Catalog(sf_dir)
    emb = scan(spark, cat, "embeddings", ["vec_id", "embedding"])
    return embedding_dedup_pairs(emb, threshold=0.4, num_planes=8, num_tables=8)


# ---------------------------------------------------------------------------
# oracle-checkable LSH variants (VERDICT r2 item 6): same algorithms as
# the xxhash64/runtime-hash production paths above, with every hash
# basis swapped for something ANY engine reproduces in plain SQL —
# md5 (minhash, simhash) or a rational literal formula (hyperplanes).
# The driver's DuckDB gate can therefore hash-match the FULL banding /
# bit-packing / bucket-join algebra, not just count rows.
# ---------------------------------------------------------------------------


def _q_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs on an md5 hash basis: 16 universal-
    family permutations of md5-derived 31-bit shingle hashes, 4 bands x
    4 rows with md5 band buckets, est_jaccard >= 0.7.  Algorithmically
    identical to q_minhash_pairs (same shingling, same (a*h+b) mod p
    permutations, same banding join) — only the base hash differs, so
    the DuckDB oracle recomputes every signature bit-exactly."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text"])
    return minhash_dedup_pairs(
        docs, num_hashes=16, shingle_k=3, num_bands=4, threshold=0.7, base_hash="md5"
    )


def _sql_minhash_md5_ctes() -> str:
    """The shared md5-minhash CTE chain (tokens -> shingles -> md5
    31-bit hashes -> 16 permutation minima -> 4 band buckets -> banded
    candidates -> signature-agreement estimate), reused by the pairs
    oracle (_sql_minhash_md5) and the end-to-end dedup-apply oracle."""
    import random as _random

    p31 = (1 << 31) - 1
    rng = _random.Random(0xD5B7)  # same stream as minhash_signatures
    consts = [(rng.randrange(1, p31), rng.randrange(p31)) for _ in range(16)]
    # md5 hex (15 chars = 60 bits) -> integer, with exact bigint
    # place-value literals (power() would round above 2^53)
    hex_to_int = " + ".join(
        f"(strpos('0123456789abcdef', m[{i}:{i}]) - 1) * {16 ** (15 - i)}"
        for i in range(1, 16)
    )
    sig_cols = ", ".join(
        f"MIN((h * {a} + {b}) % {p31}) AS s{i}" for i, (a, b) in enumerate(consts)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || '|' || ".join(f"CAST(s{b * 4 + r} AS VARCHAR)" for r in range(4))
        + f" || '|' || '{b}') AS bucket FROM sig"
        for b in range(4)
    )
    agree = " + ".join(
        f"CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END" for i in range(16)
    )
    return rf"""
toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
              ELSE [array_to_string(t[i:i+2], ' ') FOR i IN generate_series(1, len(t)-2)]
         END AS s
  FROM toks
), hx AS (
  SELECT doc_id, md5(g.g) AS m FROM sh, unnest(s) AS g(g)
), hv AS (
  SELECT doc_id, ({hex_to_int}) % {p31} AS h FROM hx
), sig AS (
  SELECT doc_id, {sig_cols} FROM hv GROUP BY doc_id
), bands AS (
  {bands}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                           AND a.doc_id < b.doc_id
), est AS (
  SELECT id_a, id_b, ({agree}) / 16.0 AS est_jaccard
  FROM cand JOIN sig sa ON sa.doc_id = cand.id_a
            JOIN sig sb ON sb.doc_id = cand.id_b
)"""


def _sql_minhash_md5() -> str:
    return f"""
WITH {_sql_minhash_md5_ctes()}
SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.7
"""


def _q_dedup_apply_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup DEDUP under a full oracle: md5-minhash+LSH
    pairs (as q_minhash_md5) -> connected_components (iterative
    min-label propagation) -> dedup_apply keeps the min-id
    representative of each duplicate cluster, singletons pass through.
    The oracle replays the pair generation relationally and resolves
    clusters with a recursive transitive closure — the same
    fixpoint-equivalence contract as q_entity_cc, now over the real
    minhash pair set.  Output: every surviving doc_id."""
    from dbt_lab_spark.llm.dedup import dedup_apply, minhash_dedup_pairs

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text"])
    pairs = minhash_dedup_pairs(
        docs, num_hashes=16, shingle_k=3, num_bands=4, threshold=0.7, base_hash="md5"
    )
    kept = dedup_apply(docs, pairs.select("id_a", "id_b"), id_col="doc_id")
    return kept.select("doc_id")


def _sql_dedup_apply_md5() -> str:
    # A doc survives iff it is the minimum id reachable in the pair
    # graph (or touches no pair at all): component == doc_id.
    return f"""
WITH RECURSIVE {_sql_minhash_md5_ctes()},
pairs AS (
  SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.7
), und AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON u.a = r.b
), comp AS (
  SELECT d.doc_id,
         LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS component
  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
  GROUP BY d.doc_id
)
SELECT doc_id FROM comp WHERE component = doc_id
"""


_SIMHASH_MD5_BITS = 60


def _q_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs on an md5 bit basis: 60-bit fingerprints
    from md5-derived token bits, two 30-bit pigeonhole bands, hamming
    <= 3 verification over band-join candidates.  Same sign-sum /
    bit-pack / band-join algebra as q_simhash_pairs; md5 bits make the
    DuckDB oracle recompute the fingerprints exactly.  (Both engines
    apply the same band rule, so the candidate set — and thus the
    result — matches even where pigeonhole recall < 1.)  60 bits, not
    32: same-vocabulary documents correlate low-order fingerprints, and
    16-bit bands band-collide quadratically at scale (the r3 scaling
    audit measured 92x output for 10x docs); 30-bit bands collide only
    for genuinely similar documents, restoring ~linear output."""
    from dbt_lab_spark.llm.dedup import simhash

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text"])
    sh = simhash(docs, bits=_SIMHASH_MD5_BITS, base_hash="md5")
    half_mask = (1 << (_SIMHASH_MD5_BITS // 2)) - 1
    lo = F.col("simhash").bitwiseAND(F.lit(half_mask))
    hi = F.shiftright(F.col("simhash"), _SIMHASH_MD5_BITS // 2).bitwiseAND(F.lit(half_mask))
    bands = sh.select(
        "doc_id", "simhash", F.lit(0).alias("band"), lo.alias("bv")
    ).union(sh.select("doc_id", "simhash", F.lit(1).alias("band"), hi.alias("bv")))
    a = bands.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("__sa"), "band", "bv"
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("__sb"), "band", "bv"
    )
    pairs = (
        a.join(b, on=["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__sa", "__sb")
        .distinct()
    )
    return (
        pairs.withColumn("hamming", F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))))
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
    )


def _sql_simhash_md5() -> str:
    bits = _SIMHASH_MD5_BITS
    hex_to_int = " + ".join(
        f"(strpos('0123456789abcdef', m[{i}:{i}]) - 1) * {16 ** (15 - i)}"
        for i in range(1, 16)
    )
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    pack = " + ".join(
        f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits)
    )
    half = bits // 2
    half_mask = (1 << half) - 1
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
), hx AS (
  SELECT doc_id, md5(tok) AS m FROM toks
), hv AS (
  SELECT doc_id, ({hex_to_int}) AS h FROM hx
), bsum AS (
  SELECT doc_id, {bit_sums} FROM hv GROUP BY doc_id
), sig AS (
  SELECT doc_id, {pack} AS sh FROM bsum
), bands AS (
  SELECT doc_id, sh, 0 AS band, sh & {half_mask} AS bv FROM sig
  UNION ALL
  SELECT doc_id, sh, 1 AS band, (sh >> {half}) & {half_mask} AS bv FROM sig
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sa, b.sh AS sb
  FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
                           AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


_LIT_TABLES, _LIT_PLANES = 2, 8


def _lit_coef(t: int, j: int):
    """Plane coefficient c(t, j, i) = ((3 + 73i + 179j + 283t) mod 21
    - 10) / 10 — a rational literal formula both engines evaluate
    identically in exact integer arithmetic before ONE double division.
    Returns a function of the 0-based element index column."""
    off = 3 + 179 * j + 283 * t
    return lambda i: ((F.lit(off) + i * 73) % 21 - 10).cast("double") / 10.0


def _lit_bucket(v: F.Column, t: int) -> F.Column:
    """Table `t`'s LSH bucket of the vector column `v`: its
    _LIT_PLANES sign bits against the `_lit_coef` hyperplanes, as a
    '0'/'1' string."""

    def plane_dot(j: int) -> F.Column:
        c = _lit_coef(t, j)
        return F.aggregate(
            F.zip_with(v, F.sequence(F.lit(0), F.size(v) - 1), lambda x, i: x * c(i)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    return F.concat_ws(
        "",
        *[
            F.when(plane_dot(j) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(_LIT_PLANES)
        ],
    )


def _q_embedding_neardup_lit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH near-dup pairs with LITERAL-formula planes: the
    same bucket-join + exact-cosine-verify shape as
    q_embedding_neardup_lsh, but plane coefficients come from a
    rational literal formula instead of runtime xxhash64 — so the
    DuckDB oracle reproduces bucketing AND verification end-to-end.
    2 tables x 8 sign bits; cosine >= 0.4 verification (the result is
    a recall-bounded subset of q_embedding_neardup's exact pairs)."""
    from dbt_lab_spark.functions.vectors import dot, l2_norm

    cat = Catalog(sf_dir)
    emb = scan(spark, cat, "embeddings", ["vec_id", "embedding"])
    v = to_double_array("embedding")

    bucketed = emb.select(
        F.col("vec_id"),
        v.alias("__v"),
        F.posexplode(F.array(*[_lit_bucket(v, t) for t in range(_LIT_TABLES)])).alias(
            "__table", "__bucket"
        ),
    )
    a = bucketed.select(
        F.col("vec_id").alias("id_a"), F.col("__v").alias("__va"), "__table", "__bucket"
    )
    b = bucketed.select(
        F.col("vec_id").alias("id_b"), F.col("__v").alias("__vb"), "__table", "__bucket"
    )
    cand = (
        a.join(b, on=["__table", "__bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__va", "__vb")
        .distinct()
    )
    scored = cand.withColumn(
        "cosine",
        dot(F.col("__va"), F.col("__vb"))
        / (l2_norm(F.col("__va")) * l2_norm(F.col("__vb"))),
    )
    return scored.filter(F.col("cosine") >= 0.4).select("id_a", "id_b", "cosine")


def _q_knn_lit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH approximate top-10 with LITERAL-formula hyperplanes — the
    oracle-checkable variant of q_knn_lsh: both sides bucket on the
    same rational-literal sign bits, candidates join within buckets,
    exact cosine + deterministic rank.  The DuckDB oracle reproduces
    bucketing, scoring, and ranking end-to-end."""
    from dbt_lab_spark.functions.vectors import dot, l2_norm

    cat = Catalog(sf_dir)
    emb = scan(spark, cat, "embeddings", ["vec_id", "embedding"])
    v = to_double_array("embedding")

    def with_buckets(df: DataFrame, idc: str, out_id: str, vout: str) -> DataFrame:
        return df.select(
            F.col(idc).alias(out_id),
            v.alias(vout),
            F.posexplode(F.array(*[_lit_bucket(v, t) for t in range(_LIT_TABLES)])).alias(
                "__table", "__bucket"
            ),
        )

    cb = with_buckets(emb.filter(F.col("vec_id") >= 5), "vec_id", "neighbor_id", "__cv")
    qb = with_buckets(emb.filter(F.col("vec_id") < 5), "vec_id", "query_id", "__qv")
    cand = (
        cb.join(qb, on=["__table", "__bucket"])
        .select("query_id", "neighbor_id", "__qv", "__cv")
        .distinct()
    )
    scored = cand.withColumn(
        "cosine",
        dot(F.col("__qv"), F.col("__cv"))
        / (l2_norm(F.col("__qv")) * l2_norm(F.col("__cv"))),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _sql_knn_lit() -> str:
    def bucket_sql(t: int) -> str:
        return " || ".join(
            "CASE WHEN list_sum([e[i] * ((("
            + str(3 + 179 * j + 283 * t)
            + " + (i-1)*73) % 21 - 10) / 10.0) FOR i IN generate_series(1, len(e))]) >= 0 "
            "THEN '1' ELSE '0' END"
            for j in range(_LIT_PLANES)
        )

    tables = " UNION ALL ".join(
        f"SELECT vec_id, e, {t} AS tbl, {bucket_sql(t)} AS bucket FROM v"
        for t in range(_LIT_TABLES)
    )
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
b AS (
  {tables}
), cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  q.e AS qv, c.e AS cv
  FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
  WHERE q.vec_id < 5 AND c.vec_id >= 5
), scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv) /
         (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
  FROM cand
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
"""


def _sql_embedding_neardup_lit() -> str:
    def bucket_sql(t: int) -> str:
        signs = " || ".join(
            "CASE WHEN list_sum([e[i] * ((("
            + str(3 + 179 * j + 283 * t)
            + " + (i-1)*73) % 21 - 10) / 10.0) FOR i IN generate_series(1, len(e))]) >= 0 "
            "THEN '1' ELSE '0' END"
            for j in range(_LIT_PLANES)
        )
        return signs

    tables = " UNION ALL ".join(
        f"SELECT vec_id, e, {t} AS tbl, {bucket_sql(t)} AS bucket FROM v"
        for t in range(_LIT_TABLES)
    )
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
b AS (
  {tables}
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b, a.e AS ea, b2.e AS eb
  FROM b a JOIN b b2 ON a.tbl = b2.tbl AND a.bucket = b2.bucket
                    AND a.vec_id < b2.vec_id
), scored AS (
  SELECT id_a, id_b,
         list_dot_product(ea, eb) /
         (sqrt(list_dot_product(ea, ea)) * sqrt(list_dot_product(eb, eb))) AS cosine
  FROM cand
)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.4
"""


# ---------------------------------------------------------------------------
# seeded (iters=0) IVF / semantic dedup: the k-means family under a FULL
# oracle.  ivf_centroids' init is deterministic (cluster = id % C means of
# the unit-normalized vectors, spherically renormalized — no RNG), so with
# zero Lloyd iterations the entire pipeline (centroid build, argmax
# assignment, probe selection, within-cluster scoring) is plain relational
# algebra DuckDB can replay.  These run the REAL ivf_assign / ivf_knn /
# semantic_dedup_pairs code paths — same Arrow-batched assignment, same
# probe expressions — only the trained-centroid step is pinned to its
# deterministic seed.  Output doubles are sequential-fold cosines on the
# raw vectors (scorer='jvm'), the bit-exact q_knn_bruteforce contract;
# centroid floats only ever decide INTEGER outcomes (cluster ids, probe
# sets), so engine-side summation-order ulps cannot reach the hash.
# ---------------------------------------------------------------------------

_SEEDED_C = 8  # clusters; corpus ids cover all residues at every SF


def _sql_seeded_centroids(corpus_pred: str) -> str:
    """Shared oracle CTEs: normalize -> id%C means -> spherical renorm ->
    argmax assignment (ties to the LOWEST cluster, matching np.argmax)."""
    return f"""
raw AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE {corpus_pred}
), nrm AS (
  SELECT vec_id, v,
         CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN 1.0
              ELSE sqrt(list_dot_product(v, v)) END AS n
  FROM raw
), nv AS (
  SELECT vec_id, v, list_transform(v, x -> x / n) AS nv FROM nrm
), comp AS (
  SELECT CAST(vec_id % {_SEEDED_C} AS INT) AS cluster, i, avg(nv[i]) AS m
  FROM nv, range(1, 65) t(i)
  GROUP BY 1, 2
), cent0 AS (
  SELECT cluster, list(m ORDER BY i) AS c0 FROM comp GROUP BY cluster
), cent AS (
  SELECT cluster,
         list_transform(c0, x -> x / (CASE WHEN sqrt(list_dot_product(c0, c0)) = 0
                                           THEN 1.0
                                           ELSE sqrt(list_dot_product(c0, c0)) END)) AS c
  FROM cent0
), assign AS (
  SELECT vec_id, cluster, v FROM (
    SELECT nv.vec_id, cent.cluster, nv.v,
           row_number() OVER (PARTITION BY nv.vec_id
                              ORDER BY list_dot_product(nv.nv, cent.c) DESC,
                                       cent.cluster ASC) AS rk
    FROM nv CROSS JOIN cent
  ) WHERE rk = 1
)"""


def _q_knn_ivf_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 with seeded centroids (iters=0) and nprobe=3 — the
    oracle-checkable variant of q_knn_ivf.  Runs the real ivf_centroids
    (zero Lloyd passes = its deterministic id%C init), the real
    Arrow-batched ivf_assign, and the real ivf_knn probe expressions;
    scoring re-joins raw vectors (scorer='jvm') so the output cosine is
    the same sequential fold the DuckDB oracle computes."""
    from dbt_lab_spark.llm.similarity import ivf_centroids, ivf_knn

    cat = Catalog(sf_dir)
    emb = scan(spark, cat, "embeddings", ["vec_id", "embedding"])
    corpus = emb.filter(F.col("vec_id") >= 5)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = ivf_centroids(corpus, num_centroids=_SEEDED_C, iters=0, dim=64)
    return ivf_knn(corpus, queries, cents, k=10, nprobe=3, scorer="jvm")


def _sql_knn_ivf_seeded() -> str:
    # Probe ties (equal query-centroid sims) break toward the HIGHER
    # cluster id: Spark sorts struct(sim, cluster) ascending and reverses.
    return f"""
WITH {_sql_seeded_centroids("vec_id >= 5")},
qs AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
), qnv AS (
  SELECT query_id, qv,
         list_transform(qv, x -> x / sqrt(list_dot_product(qv, qv))) AS nqv
  FROM qs
), probe AS (
  SELECT query_id, cluster FROM (
    SELECT qnv.query_id, cent.cluster,
           row_number() OVER (PARTITION BY qnv.query_id
                              ORDER BY list_dot_product(qnv.nqv, cent.c) DESC,
                                       cent.cluster DESC) AS rk
    FROM qnv CROSS JOIN cent
  ) WHERE rk <= 3
), scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_dot_product(q.qv, a.v) /
         (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(a.v, a.v))) AS cosine
  FROM probe p
  JOIN assign a ON a.cluster = p.cluster
  JOIN qs q ON q.query_id = p.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
"""


def _q_pq_adc_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-10 with seeded codebooks (iters=0)
    — the oracle-checkable variant of q_pq_ann.  pq_train's init is
    deterministic (codebook cell c of subspace s = subvector s of the
    mean of unit-normalized vectors with id % ks == c), so zero Lloyd
    passes pins the codebooks; the real pq_encode (argmin over the
    expansion-form squared distance) and pq_adc_knn (broadcast table
    lookups) then produce integer codes plus table-sum scores DuckDB
    replays as relational algebra.  Codebook floats only ever decide
    integer outcomes (codes, ranks); approx_d2 rounds to 6."""
    from dbt_lab_spark.llm.pq import pq_adc_knn, pq_encode, pq_train

    cat = Catalog(sf_dir)
    emb = scan(spark, cat, "embeddings", ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    corpus = emb.filter(F.col("vec_id") >= 5)
    cb = pq_train(corpus, m=8, ks=16, iters=0)
    codes = pq_encode(corpus, cb)
    return pq_adc_knn(codes, queries, cb, k=10)


def _sql_pq_adc_seeded() -> str:
    # m=8 subspaces x dsub=8 dims, ks=16 cells; codes = argmin of the
    # same expansion-form d2 (x.x - 2x.c + c.c) pq_encode computes;
    # ranks use FULL-precision table sums (rounding happens on output,
    # mirroring pq_adc_knn).
    return """
WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id >= 5
), nrm AS (
  SELECT vec_id, v,
         CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN 1.0
              ELSE sqrt(list_dot_product(v, v)) END AS n
  FROM corpus
), nv AS (
  SELECT vec_id, list_transform(v, x -> x / n) AS nv FROM nrm
), comp AS (
  SELECT CAST(vec_id % 16 AS INT) AS cell, i, avg(nv[i]) AS m
  FROM nv, range(1, 65) t(i) GROUP BY 1, 2
), cb AS (
  SELECT cell, list(m ORDER BY i) AS c FROM comp GROUP BY cell
), cbs AS (
  SELECT cell, CAST(s AS INT) AS s, list_slice(c, s*8 + 1, s*8 + 8) AS e
  FROM cb, range(0, 8) t(s)
), xsub AS (
  SELECT vec_id, CAST(s AS INT) AS s, list_slice(nv, s*8 + 1, s*8 + 8) AS xs
  FROM nv, range(0, 8) t(s)
), codes AS (
  SELECT vec_id, s, cell FROM (
    SELECT x.vec_id, x.s, cbs.cell,
           row_number() OVER (
             PARTITION BY x.vec_id, x.s
             ORDER BY list_dot_product(x.xs, x.xs) - 2*list_dot_product(x.xs, cbs.e)
                      + list_dot_product(cbs.e, cbs.e) ASC,
                      cbs.cell ASC) AS rk
    FROM xsub x JOIN cbs ON cbs.s = x.s
  ) WHERE rk = 1
), qs AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
), qn AS (
  SELECT query_id,
         list_transform(qv, x -> x / (CASE WHEN sqrt(list_dot_product(qv, qv)) = 0
                                           THEN 1.0
                                           ELSE sqrt(list_dot_product(qv, qv)) END)) AS nq
  FROM qs
), qsub AS (
  SELECT query_id, CAST(s AS INT) AS s, list_slice(nq, s*8 + 1, s*8 + 8) AS qsv
  FROM qn, range(0, 8) t(s)
), tab AS (
  SELECT q.query_id, q.s, cbs.cell,
         list_sum([(cbs.e[j] - q.qsv[j]) * (cbs.e[j] - q.qsv[j])
                   FOR j IN generate_series(1, 8)]) AS d2
  FROM qsub q JOIN cbs ON cbs.s = q.s
), scored AS (
  SELECT t.query_id, c.vec_id AS neighbor_id, sum(t.d2) AS raw_d2
  FROM codes c JOIN tab t ON t.s = c.s AND t.cell = c.cell
  GROUP BY 1, 2
), ranked AS (
  SELECT query_id, neighbor_id, raw_d2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY raw_d2 ASC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(raw_d2, 6) AS approx_d2, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
"""


def _q_semantic_dedup_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with seeded clusters (iters=0) — the oracle-checkable
    variant of q_semantic_dedup: real ivf_centroids init + real
    ivf_assign partition the corpus, within-cluster pairs are scored
    with the sequential-fold cosine on raw vectors (scorer='jvm') and
    kept at >= 0.3.  The DuckDB oracle replays centroid build,
    assignment, and the within-cluster self-join exactly."""
    from dbt_lab_spark.llm.dedup import semantic_dedup_pairs

    cat = Catalog(sf_dir)
    emb = scan(spark, cat, "embeddings", ["vec_id", "embedding"])
    return semantic_dedup_pairs(
        emb, num_clusters=_SEEDED_C, threshold=0.3, iters=0, scorer="jvm"
    )


def _sql_semantic_dedup_seeded() -> str:
    return f"""
WITH {_sql_seeded_centroids("TRUE")}
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.v, b.v) /
       (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
FROM assign a JOIN assign b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) /
      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3
"""


# ---------------------------------------------------------------------------
# streaming-native session windows (batch path of streaming/windows.py)
# ---------------------------------------------------------------------------


def _q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window() aggregation over events — the streaming-native
    operator run on the batch frame (identical plan under readStream;
    tests drive the stream path).  Oracle mirrors Spark's session
    semantics: a gap >= 30min starts a new session, session end =
    last ts + gap."""
    from dbt_lab_spark.streaming.windows import session_window_agg

    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["user_id", "ts", "value"])
    # decimal-quantized value => order-independent exact session sums
    ev = ev.withColumn("value", money("value"))
    out = session_window_agg(ev, gap="30 minutes", by="user_id")
    return out.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


_SQL_SESSION_WINDOW = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_ms(ts) - epoch_ms(LAG(ts) OVER w) >= 30*60*1000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM numbered GROUP BY user_id, session_seq
"""


# ---------------------------------------------------------------------------
# multimodal assets (Spark-side plumbing; decode stubbed per brief)
# ---------------------------------------------------------------------------


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary asset
    columns, aggregated per media type.  Deterministic fake decode (no
    codec libs in this container) — rows-only check; exact feature
    values are pin-tested in tests/."""
    from dbt_lab_spark.llm.multimodal import extract_features, make_fake_assets

    assets = make_fake_assets(spark, n=96)
    feats = extract_features(assets, fake_decode=True)
    return feats.groupBy("media_type").agg(
        F.count("*").alias("n_assets"),
        F.sum("n_bytes").alias("sum_bytes"),
        F.round(F.sum(F.element_at("feature", 1)), 4).alias("sum_f0"),
    )


def _q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring: per-doc mean token log-prob
    under a corpus-trained add-one unigram LM (llm/curation.py
    lm_quality_score) — the CCNet/Gopher-style 'score with a small LM,
    drop the tail' pre-filter, entirely JVM-side."""
    from dbt_lab_spark.llm.curation import lm_quality_score

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text"])
    return lm_quality_score(docs)


_SQL_LM_QUALITY = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
), t AS (SELECT * FROM toks WHERE tok <> ''),
freq AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n, CAST(COUNT(*) AS DOUBLE) AS v FROM freq),
probs AS (SELECT tok, ln((c + 1.0) / (n + v)) AS lnp FROM freq, tot)
SELECT doc_id, ROUND(AVG(lnp), 4) AS lm_score, COUNT(*) AS n_tokens
FROM t JOIN probs USING (tok) GROUP BY doc_id
"""


def _q_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift: KL(source || corpus) with
    add-one smoothing (llm/curation.py token_kl_drift) — the mixture-
    debugging metric for domain weights."""
    from dbt_lab_spark.llm.curation import token_kl_drift

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["source", "text"])
    return token_kl_drift(docs)


_SQL_KL_DRIFT = r"""
WITH toks AS (
  SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
), t AS (SELECT * FROM toks WHERE tok <> ''),
sc AS (SELECT source, tok, COUNT(*) AS cs FROM t GROUP BY source, tok),
st AS (SELECT source, SUM(cs) AS ns FROM sc GROUP BY source),
cc AS (SELECT tok, COUNT(*) AS ccnt FROM t GROUP BY tok),
ct AS (SELECT CAST(SUM(ccnt) AS DOUBLE) AS n, CAST(COUNT(*) AS DOUBLE) AS v FROM cc)
SELECT source,
       ROUND(SUM(((cs + 1.0) / (ns + v)) *
                 ln(((cs + 1.0) / (ns + v)) / ((ccnt + 1.0) / (n + v)))), 4) AS kl_drift,
       CAST(MAX(ns) AS BIGINT) AS n_tokens
FROM sc JOIN st USING (source) JOIN cc USING (tok), ct
GROUP BY source
"""


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embeddings table:
    spherical k-means partition -> within-cluster exact cosine ->
    connected components -> keep min-id representative; summarized per
    label.  k-means is iterative (not SQL-expressible) -> rows-only
    check; recall/behavior pinned in tests."""
    from dbt_lab_spark.llm.dedup import semantic_dedup_keep

    cat = Catalog(sf_dir)
    emb = cat.table(spark, "embeddings")
    kept = semantic_dedup_keep(emb, num_clusters=8, threshold=0.995)
    return kept.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_kept"), F.min("vec_id").alias("min_id")
    )


def _q_multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode path: payloads are genuine BMP / PPM / PNG / GIF /
    baseline-JPEG (4:2:0 and 4:4:4) / PCM-WAV / FLAC bytes and
    fake_decode=False routes through llm/codecs.py format parsers inside
    the Arrow mapInPandas — no stub anywhere on this path, including the
    JPEG Huffman+DCT entropy decode.  Features are normalized 8-bin
    luminance/amplitude histograms, so per-media sums of the first bin
    are deterministic.  Rows-only check (media decode is not
    SQL-expressible); exact bytes are pin-tested in tests/."""
    from dbt_lab_spark.llm.multimodal import extract_features, make_real_assets

    assets = make_real_assets(spark, n=48)
    feats = extract_features(assets, fake_decode=False)
    return feats.groupBy("media_type").agg(
        F.count("*").alias("n_assets"),
        F.sum("n_bytes").alias("sum_bytes"),
        F.round(F.sum(F.element_at("feature", 1)), 4).alias("sum_f0"),
    )


def _q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization end-to-end: train 60 merges on the corpus's
    word counts (distributed count, |vocab|-bounded driver training),
    then encode every document map-only with broadcast merge ranks.
    Output: per-source word/BPE-token totals and compression ratio.
    Rows-only check (iterative merge training is not SQL-expressible);
    merge order and encoding are pin-tested in tests/."""
    from dbt_lab_spark.llm.tokenizer import bpe_encode, train_bpe

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text", "source"])
    merges = train_bpe(docs, num_merges=60, min_freq=2)
    enc = bpe_encode(docs, merges)
    return (
        enc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
            F.round(
                F.sum("n_bpe_tokens") / F.sum("n_words").cast("double"), 4
            ).alias("tokens_per_word"),
        )
    )


def _q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image normalization stage: real decode (all six codecs) ->
    center-crop 90% -> bilinear resize to 24x24 -> PPM re-encode,
    aggregated per output shape.  Rows-only check (pixel resampling is
    not SQL-expressible); resize math is pin-tested against manual
    interpolation in tests/."""
    from dbt_lab_spark.llm.multimodal import make_real_assets, transform_images

    assets = make_real_assets(spark, n=48)
    out = transform_images(assets, width=24, height=24, crop=0.9)
    return out.groupBy("out_w", "out_h").agg(
        F.count("*").alias("n_images"),
        F.sum(F.length("payload")).alias("total_bytes"),
        F.round(F.avg("mean_luma"), 4).alias("avg_luma"),
    )


def _q_audio_spectrogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio STFT band energies over real PCM-WAV and FLAC payloads,
    rolled up to corpus level.  Rows-only check (FFT is not
    SQL-expressible); band placement is pin-tested with pure sine
    tones in tests/."""
    from dbt_lab_spark.llm.multimodal import audio_spectral_features, make_real_assets

    assets = make_real_assets(spark, n=48)
    feats = audio_spectral_features(assets)
    return feats.select(
        F.lit("audio").alias("media_type"),
        F.col("n_frames"),
        F.round(F.element_at("band_energy", 1), 6).alias("e_low"),
    ).groupBy("media_type").agg(
        F.count("*").alias("n_assets"),
        F.sum("n_frames").alias("total_frames"),
        F.round(F.sum("e_low"), 4).alias("sum_low_band"),
    )


def _q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan (sequence+explode, JVM-side) — one row
    per sampled frame timestamp, counted per asset.  Rows-only check."""
    from dbt_lab_spark.llm.multimodal import make_fake_assets, sample_frames

    assets = make_fake_assets(spark, n=96)
    return sample_frames(assets, every_ms=5000).groupBy("asset_id").agg(
        F.count("*").alias("n_frames"), F.max("frame_ts_ms").alias("last_frame_ts_ms")
    )


# ---------------------------------------------------------------------------
# time-series joins: as-of + banded range (capability upgrades, no
# reference counterpart — SURVEY.md §2.3 lists equi/θ joins only)
# ---------------------------------------------------------------------------


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each click event picks up the most recent
    purchase at-or-before it by the same user.  Single shuffle on
    user_id (union + ordered carry-forward), no range-join explosion —
    the plan a native as-of operator would choose at 100 TB.  The right
    side is pre-aggregated to unique (user_id, ts) so the matched value
    is deterministic on both engines."""
    from dbt_lab_spark.operators.joins import asof_join

    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["event_id", "user_id", "ts", "event_type", "value"])
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("p_ts"))
        .agg(F.max(money("value")).cast("double").alias("last_purchase_value"))
    )
    out = asof_join(clicks, purchases, "user_id", "ts", "p_ts", direction="backward")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("p_ts").alias("last_purchase_ts"),
        "last_purchase_value",
    )


_SQL_ASOF_JOIN = """
WITH purchases AS (
  SELECT user_id, ts AS p_ts,
         CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS last_purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
)
SELECT c.event_id, c.user_id, c.ts,
       p.p_ts AS last_purchase_ts,
       p.last_purchase_value
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.p_ts
"""


def _q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded interval join: purchases within 1 hour AFTER each click
    by the same user, aggregated per click.  The band becomes an
    equi-join on (user_id, time-bin) with 2× left fan-out — no
    BNLJ/cartesian (asserted by plan-shape test), so the plan survives
    a 100× scale-up where a non-equi join would be quadratic per key."""
    from dbt_lab_spark.operators.joins import range_join

    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["event_id", "user_id", "ts", "event_type", "value"])
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), "value"
    )
    pairs = range_join(clicks, purchases, "user_id", "ts", "p_ts", 0, 3_600_000)
    return pairs.groupBy("event_id", "user_id").agg(
        F.count("*").alias("n_purchases_1h"),
        F.sum(money("value")).cast("double").alias("sum_value_1h"),
    )


_SQL_RANGE_JOIN = """
SELECT c.event_id, c.user_id,
       COUNT(*) AS n_purchases_1h,
       CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value_1h
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND epoch_ms(p.ts) - epoch_ms(c.ts) BETWEEN 0 AND 3600000
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# deterministic sampling (training-pipeline ops; llm/sampling.py)
# ---------------------------------------------------------------------------

from dbt_lab_spark.llm.sampling import (  # noqa: E402
    hash_sample,
    hash_threshold,
    stratified_hash_sample,
    train_test_split,
)


def _q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample of documents by doc_id hash — pure
    narrow filter, membership independent of partitioning/engine (the
    oracle applies the identical md5 threshold)."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "lang", "n_chars"])
    return hash_sample(docs, "doc_id", 0.10)


_SQL_HASH_SAMPLE = f"""
SELECT doc_id, lang, n_chars FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) < '{hash_threshold(0.10)}'
"""


_STRATA = {"en": 0.1, "zh": 0.5, "es": 1.0}
_STRATA_DEFAULT = 0.25


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic sampling (downsample dominant 'en',
    keep all 'es'), aggregated to per-language counts."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "lang"])
    out = stratified_hash_sample(docs, "doc_id", "lang", _STRATA, _STRATA_DEFAULT)
    return out.groupBy("lang").agg(F.count("*").alias("n_sampled"))


_SQL_STRATIFIED_SAMPLE = f"""
SELECT lang, COUNT(*) AS n_sampled FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) <
      CASE lang WHEN 'en' THEN '{hash_threshold(0.1)}'
                WHEN 'zh' THEN '{hash_threshold(0.5)}'
                WHEN 'es' THEN '{hash_threshold(1.0)}'
                ELSE '{hash_threshold(_STRATA_DEFAULT)}' END
GROUP BY lang
"""


def _q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/test assignment by salted doc_id hash
    — stable under data growth, reproducible across engines."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "lang"])
    return train_test_split(docs, "doc_id", test_fraction=0.1).select("doc_id", "lang", "split")


_SQL_TRAIN_TEST_SPLIT = f"""
SELECT doc_id, lang,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 15)
                 < '{hash_threshold(0.1)}'
            THEN 'test' ELSE 'train' END AS split
FROM documents
"""


def _q_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens across the corpus: explode(split()) — the lateral/
    UDTF shape (reference has no table functions).  The explode is a
    narrow op; one shuffle for the count, TakeOrderedAndProject for the
    top-k.  Ties broken by token text for determinism."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["text"])
    tokens = docs.select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"))
    return (
        tokens.filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


_SQL_WORD_COUNT = r"""
SELECT token, COUNT(*) AS n
FROM documents, UNNEST(string_split_regex(lower(text), '\s+')) AS u(token)
WHERE token <> ''
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 20
"""


def _q_approx_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type (HyperLogLog++).  The
    sketch is mergeable, so partial aggregation works map-side and the
    shuffle carries fixed-size sketches, not values — THE way to count
    distincts at 100 TB (the production form stops at approx_users).
    Estimates are engine-specific, so the ORACLE CONTRACT is the
    tolerance flag: the query also computes the exact NDV and asserts
    |approx - exact| <= 15% inline; DuckDB recomputes the exact side
    and expects the flag TRUE.  A drifting estimator now fails the
    value-hash gate instead of hiding behind a rows-only check.  The
    inline bound is 15% (~3 sigma at rsd=0.05) so a legitimate 2-sigma
    excursion on a future data drop can't deterministically fail the
    gate (r4 ADVICE); the tighter 10% check lives in
    tests/test_approx.py where a probabilistic miss is inspectable."""
    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["event_type", "user_id"])
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.05).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.15 * F.col("exact_users")
        ).alias("est_within_15pct"),
    )


_SQL_APPROX_NDV = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS est_within_15pct
FROM events GROUP BY 1
"""


def _q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching (record linkage): DISTINCT part names
    within edit distance 3, blocked on the noun token, with the row
    multiplicities each name pair represents.

    Scale shape: aggregate to distinct values FIRST (the value domain
    grows far slower than the fact table — here 64 names over 20k rows
    at sf0.1), run the quadratic levenshtein verify on the distinct-
    value table only, and carry counts instead of row pairs.  The
    earlier row-level form emitted ~|block|^2 ROWS (11M at sf0.1,
    ~1.1B at sf1) — quadratic OUTPUT no algorithm survives; pair_rows
    preserves that information as one integer per name pair.  Exact
    levenshtein on both engines → full value parity."""
    cat = Catalog(sf_dir)
    part = scan(spark, cat, "part", ["p_partkey", "p_name"])
    names = part.groupBy("p_name").agg(F.count("*").alias("n_rows"))
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("n_rows").alias("rows_a"),
        F.split(F.col("p_name"), " ").getItem(1).alias("__block"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("n_rows").alias("rows_b"),
        F.split(F.col("p_name"), " ").getItem(1).alias("__block"),
    )
    pairs = a.join(b, on="__block").filter(F.col("name_a") < F.col("name_b"))
    return (
        pairs.withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 3)
        .select(
            "name_a",
            "name_b",
            "edit_dist",
            "rows_a",
            "rows_b",
            (F.col("rows_a") * F.col("rows_b")).alias("pair_rows"),
        )
    )


_SQL_FUZZY_PAIRS = """
WITH names AS (
  SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_rows FROM part GROUP BY p_name
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name) AS edit_dist,
       a.n_rows AS rows_a, b.n_rows AS rows_b,
       a.n_rows * b.n_rows AS pair_rows
FROM names a JOIN names b
  ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
 AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 3
"""


def _q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-3 terms per document.  Three
    aggregation levels — tf per (doc, token), df per token, corpus N —
    then a per-doc ranking window.  df is broadcast back onto tf (token
    dim is small relative to the token-instance fact), N rides along as
    a broadcast scalar; at 100 TB this is two shuffles (tf, df) + one
    window.  The doc_id < 50 output selection is applied to tf BEFORE
    the join + ranking window (df and N are still computed over the
    FULL corpus, so values are unchanged) — the window sorts only the
    selected docs' rows (r4: 122k -> ~600 window rows at sf0.1).
    Ranking uses the INTEGER keys (tf desc, df asc, token) so
    both engines pick identical rows regardless of libm ulp differences;
    the float tfidf is an output value (4dp-rounded compare)."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text"])
    tokens = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    tf = tokens.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") < 50)
        .join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("df"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "token", "tf", "df", "tfidf", "rank")
    )


_SQL_TFIDF = r"""
WITH tokens AS (
  SELECT doc_id, token
  FROM documents, UNNEST(string_split_regex(lower(text), '\s+')) AS u(token)
  WHERE token <> ''
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tokens GROUP BY 1, 2
), df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
), ranked AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf,
         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, df.df ASC, tf.token ASC) AS rank
  FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, token, tf, df, tfidf, rank
FROM ranked WHERE rank <= 3 AND doc_id < 50
"""


def _q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel: per user, click/purchase counts and whether a
    purchase follows a click — conditional aggregation in ONE pass over
    the events table (no self-join; the 100 TB funnel idiom)."""
    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["user_id", "event_type", "ts"])
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    purchase_ts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    return ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n_clicks"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purchases"),
        F.when(F.min(click_ts) < F.max(purchase_ts), 1).otherwise(0).alias("converted"),
    )


_SQL_FUNNEL = """
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
       CASE WHEN MIN(CASE WHEN event_type = 'click' THEN ts END)
               < MAX(CASE WHEN event_type = 'purchase' THEN ts END)
            THEN 1 ELSE 0 END AS converted
FROM events GROUP BY user_id
"""


def _q_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame: per event, the user's trailing
    1-hour sum of value.  RANGE (not ROWS) — peers at equal timestamps
    all join the frame, so the result is deterministic under ties; the
    exact integer-cent sum keeps it order-independent.  One shuffle on
    user_id.  r4 perf: the frame sums a LONG cents column (primitive
    window aggregation) instead of DECIMAL(18,2); cents/100.0 is the
    correctly-rounded double of the same exact rational the decimal-sum
    cast produced, so values are bit-identical to the oracle."""
    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["event_id", "user_id", "ts", "value"])
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_millis(F.col("ts")))
        .rangeBetween(-3_600_000, 0)
    )
    cents = (money("value") * 100).cast("long")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.sum(cents).over(w) / 100.0).alias("trailing_1h_value"),
    )


_SQL_TIME_RANGE_FRAME = """
SELECT event_id, user_id, ts,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
            PARTITION BY user_id ORDER BY epoch_ms(ts)
            RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS trailing_1h_value
FROM events
"""


def _q_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARG-MAX per group via struct ordering: the customer holding each
    nation's highest balance.  max(struct(balance, key)) is a single
    partial+final aggregate — no window, no sort, and the struct's
    second field makes ties deterministic on both engines."""
    cat = Catalog(sf_dir)
    cust = scan(spark, cat, "customer", ["c_custkey", "c_nationkey", "c_acctbal"])
    nation = scan(spark, cat, "nation", ["n_nationkey", "n_name"])
    top = cust.groupBy("c_nationkey").agg(
        F.max(F.struct(F.col("c_acctbal"), F.col("c_custkey"))).alias("m")
    )
    return (
        top.join(F.broadcast(nation), top.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            F.col("m.c_acctbal").alias("top_acctbal"),
            F.col("m.c_custkey").alias("top_custkey"),
        )
    )


_SQL_ARGMAX = """
SELECT n_name,
       (m).a AS top_acctbal,
       (m).b AS top_custkey
FROM (
  SELECT c_nationkey, MAX({'a': c_acctbal, 'b': c_custkey}) AS m
  FROM customer GROUP BY c_nationkey
) t JOIN nation ON c_nationkey = n_nationkey
"""


def _q_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding norm statistics — vector math as pure JVM
    expressions (zip_with/aggregate inside codegen, no Python): count
    and average L2 norm per label.  Both engines accumulate the
    element-order sequential double sum, so norms are bit-identical."""
    cat = Catalog(sf_dir)
    emb = scan(spark, cat, "embeddings", ["vec_id", "embedding", "label"])
    from dbt_lab_spark.functions.vectors import l2_norm

    norm = l2_norm(to_double_array("embedding"))
    return emb.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.avg(norm).alias("avg_norm"),
    )


_SQL_VECTOR_NORMS = """
SELECT label, COUNT(*) AS n_vectors,
       AVG(sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])))
         AS avg_norm
FROM embeddings GROUP BY label
"""


def _q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence analysis: counts of adjacent (prev → next)
    event-type transitions across all users — LAG over the per-user
    timeline (tie-broken by event_id), then one aggregate.  The
    Markov-chain / funnel-step primitive: one shuffle on user_id, one
    on the transition pair."""
    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["user_id", "event_id", "ts", "event_type"])
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(order))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n_transitions"))
    )


_SQL_TRANSITIONS = """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
"""


def _q_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus bigrams via array higher-order functions:
    zip_with over shifted token-array slices builds each document's
    bigram list JVM-side (no UDF; see functions/text.py bigrams for
    why not transform+element_at), explode + count +
    TakeOrderedAndProject.  The n-gram LM / collocation primitive."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["text"])
    toks = F.split(F.lower(F.col("text")), r"\s+")
    return (
        docs.filter(F.size(toks) >= 2)
        .select(F.explode(bigrams("text")).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


_SQL_BIGRAMS = r"""
SELECT bigram, COUNT(*) AS n
FROM (
  SELECT unnest([t[i] || ' ' || t[i+1] FOR i IN generate_series(1, len(t)-1)]) AS bigram
  FROM (SELECT string_split_regex(lower(text), '\s+') AS t FROM documents)
  WHERE len(t) >= 2
)
GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20
"""


def _q_seq_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence detection: per user, count
    occurrences of the funnel pattern view -> click+ -> purchase over
    the time-ordered event stream.  Spark-first: the per-user timeline
    is reduced to a one-char-per-event string JVM-side (array_sort of
    (ts, event_id, code) structs -> transform -> array_join; no UDF,
    tie-broken by event_id), and the PATTERN clause becomes a regex
    counted with regexp_count.  One shuffle on user_id; per-user state
    is bounded by that user's event count (pre-sessionize first at
    100 TB so each string is a session, not a lifetime).  Event-type
    initials are distinct (v/c/p/s/e) so the mapping is faithful."""
    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["user_id", "event_id", "ts", "event_type"])
    e = F.struct(F.col("ts"), F.col("event_id"), F.substring("event_type", 1, 1).alias("c"))
    seq = (
        ev.select("user_id", e.alias("e"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("e")), lambda x: x["c"]), ""
            ).alias("seq")
        )
    )
    return (
        seq.select(
            "user_id",
            F.length("seq").cast("bigint").alias("n_events"),
            F.regexp_count("seq", F.lit("vc+p")).cast("bigint").alias("n_funnels"),
        )
        .filter(F.col("n_funnels") > 0)
        .orderBy("user_id")
    )


_SQL_SEQ_MATCH = """
WITH seq AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
  FROM events GROUP BY user_id
)
SELECT user_id,
       length(seq) AS n_events,
       len(regexp_extract_all(seq, 'vc+p')) AS n_funnels
FROM seq
WHERE len(regexp_extract_all(seq, 'vc+p')) > 0
ORDER BY user_id
"""


def _q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: corpus bigrams occurring at least 1/2000 of all
    bigram occurrences — exact, in one partial-aggregated shuffle plus
    a broadcast grand total (see functions/sketches.py heavy_hitters;
    the CMS stays the streaming/summary path).  Integer threshold
    arithmetic (n * k >= total), no float comparison."""
    from dbt_lab_spark.functions.sketches import heavy_hitters

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["text"])
    # No size->=2 prefilter: bigrams() of a <2-token doc is an empty
    # array and explode() drops it — the filter only re-tokenized every
    # row a second time (r4 perf fix).
    src = docs.select(F.explode(bigrams("text")).alias("bigram"))
    return (
        heavy_hitters(src, "bigram", k=2000)
        .select(F.col("item").alias("bigram"), "n")
        .orderBy("bigram")
    )


_SQL_HEAVY_HITTERS = r"""
WITH b AS (
  SELECT unnest([t[i] || ' ' || t[i+1] FOR i IN generate_series(1, len(t)-1)]) AS bigram
  FROM (SELECT string_split_regex(lower(text), '\s+') AS t FROM documents)
  WHERE len(t) >= 2
),
c AS (SELECT bigram, COUNT(*) AS n FROM b GROUP BY bigram)
SELECT bigram, n FROM c
WHERE n * 2000 >= (SELECT CAST(SUM(n) AS BIGINT) FROM c)
ORDER BY bigram
"""


def _q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus preparation — the composed pipeline a
    data team actually runs, as ONE declarative plan Catalyst optimizes
    whole: length filter -> exact dedup (min-id per content
    fingerprint) -> deterministic 50% hash sample -> per-(lang, source)
    doc/token accounting.  Every stage is an already-parity-tested
    primitive, so the composition has a full SQL oracle.  Two shuffles
    total (fingerprint group, final group); the sample is a narrow
    filter (no shuffle, partition-independent).  r4: the dedup stage is
    min(struct(doc_id, ...)) in ONE hash-agg — map-side combine keeps
    one candidate row per fingerprint per partition and there is no
    join-back shuffle (exact_dedup's keep-ids join would re-shuffle the
    full rows on doc_id; same keep-min-id semantics either way)."""
    from dbt_lab_spark.functions.text import fingerprint
    from dbt_lab_spark.llm.sampling import hash_sample

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text", "lang", "source"])
    kept = docs.filter(token_count("text") >= 20)
    deduped = (
        kept.groupBy(fingerprint("text").alias("__fp"))
        .agg(F.min(F.struct("doc_id", "text", "lang", "source")).alias("__r"))
        .select("__r.*")
    )
    sampled = hash_sample(deduped, "doc_id", 0.5)
    return (
        sampled.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count("text")).cast("bigint").alias("sum_tokens"),
        )
        .orderBy("lang", "source")
    )


def _sql_corpus_prep() -> str:
    from dbt_lab_spark.llm.sampling import hash_threshold

    return rf"""
WITH kept AS (
  SELECT doc_id, text, lang, source
  FROM documents
  WHERE len(string_split_regex(trim(text), '\s+')) >= 20
),
deduped AS (
  SELECT * FROM kept
  WHERE doc_id IN (SELECT MIN(doc_id) FROM kept GROUP BY md5(text))
),
sampled AS (
  SELECT * FROM deduped
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) < '{hash_threshold(0.5)}'
)
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS sum_tokens
FROM sampled GROUP BY lang, source ORDER BY lang, source
"""


def _q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling / last-observation-carried-forward: each event row
    annotated with the user's most recent purchase value at that point
    in the timeline — last(..., ignorenulls) over a running frame, the
    sensor-data forward-fill primitive.  One shuffle on user_id."""
    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["user_id", "event_id", "ts", "event_type", "value"])
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.last(purchase_val, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


_SQL_GAP_FILL = """
SELECT user_id, event_id, event_type,
       LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
FROM events
"""


def partitioned_lineitem_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per sf, idempotent) a Hive-partitioned
    multi-file layout of lineitem under the repo-local layout cache and
    return its path.  This is the scan-parallelism fixture VERDICT r3
    #5 asked for: every driver-shipped sf table is ONE parquet file
    with ONE row group, so every bench scan stage is a single task —
    the first thing that breaks at 100x.  Partitioning by ship YEAR
    (the classic warehouse time-partitioning) yields one directory per
    year (x input-split files each): the read side gets >1 scan task
    plus real PartitionFilters pruning."""
    import os

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # Key the cache on a SOURCE FINGERPRINT, not just the sf-dir basename
    # (ADVICE r4): a lineitem.parquet regenerated in place, or two sf_dirs
    # sharing a basename, must invalidate/avoid the cached layout rather
    # than silently serving stale rows while the oracle reads live data.
    src = os.path.join(sf_dir, "lineitem.parquet")
    try:
        st = os.stat(src)
        fingerprint = f"{st.st_mtime_ns}_{st.st_size}"
    except OSError:
        fingerprint = "missing"
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = os.path.join(
        repo_root, ".layout_cache", f"{sf_tag}_{fingerprint}", "lineitem_by_shipyear"
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from dbt_lab_spark.sources import write_partitioned

        cat = Catalog(sf_dir)
        li = scan(
            spark, cat, "lineitem",
            ["l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"],
        ).withColumn("ship_year", F.year("l_shipdate"))
        # >=4 files per partition dir so the scan parallelizes even at
        # tiny SFs (the shipped single-file table would write 1).
        write_partitioned(li.repartition(4), path, ["ship_year"])
    return path


def _q_lineitem_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue for two ship years, read from the PARTITIONED
    multi-file lineitem layout (see partitioned_lineitem_path).  The
    ship_year predicate is a PartitionFilter — every other year's
    directory is pruned BEFORE any I/O — and the scan runs >1 task
    (pinned in tests/test_plan_shapes.py).  Results are hash-identical
    to the same aggregation over the shipped single-file table, which
    is what the DuckDB oracle computes."""
    path = partitioned_lineitem_path(spark, sf_dir)
    # Explicit schema: an empty source writes a layout with zero data
    # files, which must read back as an empty frame (not an inference
    # error) to honor the empty-input contract.
    layout_schema = (
        "l_orderkey bigint, l_extendedprice double, l_discount double, "
        "l_shipdate timestamp, ship_year int"
    )
    li = spark.read.schema(layout_schema).parquet(path).filter(
        F.col("ship_year").isin(1996, 1997)
    )
    return (
        li.groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.count("*").alias("n_items"),
            F.sum(money("l_extendedprice") * (1 - money("l_discount")))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("ship_month")
    )


_SQL_LINEITEM_PARTITIONED = """
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
WHERE year(l_shipdate) IN (1996, 1997)
GROUP BY 1
ORDER BY 1
"""


def _q_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking/navigation window-function surface in one
    query: rank, dense_rank, percent_rank, cume_dist, lag-with-default,
    lead, first_value, nth_value — all over a single (custkey-
    partitioned, price-desc, key-tie-broken) window, so Catalyst plans
    ONE exchange + ONE Window node for all eight functions."""
    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_orderkey", "o_custkey", "o_totalprice"])
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.lag("o_totalprice", 1, 0.0).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1, 0.0).over(w).alias("next_price"),
        F.first_value("o_totalprice").over(w).alias("top_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


_SQL_WINDOW_SUITE = """
SELECT o_orderkey, o_custkey, o_totalprice,
       RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       PERCENT_RANK() OVER w AS prnk,
       CUME_DIST() OVER w AS cdist,
       LAG(o_totalprice, 1, 0.0) OVER w AS prev_price,
       LEAD(o_totalprice, 1, 0.0) OVER w AS next_price,
       FIRST_VALUE(o_totalprice) OVER w AS top_price,
       NTH_VALUE(o_totalprice, 2) OVER w AS second_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
"""


def _q_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group MODE: most frequent order priority per
    order status, ties broken toward the larger priority string —
    count + arg-max over struct(n, priority), two partial-aggregated
    shuffles, no window.  (Built-in mode() leaves ties undefined in
    both engines; the struct arg-max pins them.)"""
    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_orderstatus", "o_orderpriority"])
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))
    m = counts.groupBy("o_orderstatus").agg(
        F.max(F.struct(F.col("n"), F.col("o_orderpriority").alias("p"))).alias("m")
    )
    return m.select(
        "o_orderstatus",
        F.col("m.p").alias("mode_priority"),
        F.col("m.n").alias("n_orders"),
    ).orderBy("o_orderstatus")


_SQL_MODE = """
WITH c AS (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
  FROM orders GROUP BY o_orderstatus, o_orderpriority
)
SELECT o_orderstatus,
       (MAX({'n': n, 'p': o_orderpriority})).p AS mode_priority,
       (MAX({'n': n, 'p': o_orderpriority})).n AS n_orders
FROM c GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def _q_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment by content
    hash (llm/sampling.py kfold_assign): narrow, shuffle-free, stable
    as data grows.  Output: per-fold document and char accounting —
    folds partition the corpus exactly."""
    from dbt_lab_spark.llm.sampling import kfold_assign

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "n_chars"])
    return (
        kfold_assign(docs, "doc_id", k=5)
        .groupBy("fold")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .orderBy("fold")
    )


def _sql_kfold() -> str:
    from dbt_lab_spark.llm.sampling import hash_threshold

    terms = " + ".join(
        f"(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'fold'), 1, 15)"
        f" >= '{hash_threshold(j / 5)}' THEN 1 ELSE 0 END)"
        for j in range(1, 5)
    )
    return f"""
SELECT ({terms}) AS fold,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY fold ORDER BY fold
"""


def _q_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar-function surface (§2.8 absences: the reference
    has arithmetic only): calendar parts, ISO week, day arithmetic,
    month-end, week truncation, day differences, epoch millis — every
    expression mirrored term-for-term in the oracle, dialect
    differences (DuckDB's 0-based dayofweek, BIGINT parts) normalized
    on the oracle side."""
    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["event_id", "ts"])
    d = F.to_date("ts")
    return ev.select(
        "event_id",
        F.year("ts").alias("y"),
        F.quarter("ts").alias("q"),
        F.month("ts").alias("mo"),
        F.dayofmonth("ts").alias("dom"),
        F.dayofweek("ts").alias("dow"),
        F.weekofyear("ts").alias("wk"),
        F.hour("ts").alias("hr"),
        F.date_add(d, 30).alias("plus30"),
        F.last_day("ts").alias("eom"),
        F.date_trunc("week", F.col("ts")).cast("date").alias("wk_start"),
        F.datediff(d, F.lit("2020-01-01").cast("date")).alias("days_since"),
        F.unix_millis("ts").alias("ems"),
    )


_SQL_DATETIME_FUNCTIONS = """
SELECT event_id,
       CAST(year(ts) AS INT) AS y,
       CAST(quarter(ts) AS INT) AS q,
       CAST(month(ts) AS INT) AS mo,
       CAST(day(ts) AS INT) AS dom,
       CAST(dayofweek(ts) + 1 AS INT) AS dow,
       CAST(weekofyear(ts) AS INT) AS wk,
       CAST(hour(ts) AS INT) AS hr,
       CAST(ts AS DATE) + 30 AS plus30,
       last_day(CAST(ts AS DATE)) AS eom,
       CAST(date_trunc('week', ts) AS DATE) AS wk_start,
       CAST(datediff('day', DATE '2020-01-01', CAST(ts AS DATE)) AS INT) AS days_since,
       epoch_ms(ts) AS ems
FROM events
"""


def _q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String + null-handling scalar surface (§2.8 absences): case,
    padding, substring, translate, split_part, concat_ws, reverse,
    repeat, position, trim, ascii, nullif/coalesce, greatest/least —
    every expression mirrored term-for-term in the oracle."""
    cat = Catalog(sf_dir)
    part = scan(spark, cat, "part", ["p_partkey", "p_name", "p_type", "p_brand", "p_size"])
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.lower("p_type").alias("lo"),
        F.length("p_name").cast("int").alias("ln"),
        F.lpad("p_brand", 12, "*").alias("lp"),
        F.rpad("p_brand", 12, "#").alias("rp"),
        F.substring("p_name", 1, 5).alias("sub"),
        F.translate("p_name", "aeiou", "AEIOU").alias("tr"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("sp"),
        F.concat_ws("|", "p_brand", "p_type").alias("cw"),
        F.reverse(F.col("p_name")).alias("rev"),
        F.repeat(F.col("p_brand"), 2).alias("rep2"),
        F.instr(F.col("p_name"), "a").cast("int").alias("pos_a"),
        F.trim(F.col("p_name")).alias("trm"),
        F.ascii(F.substring("p_name", 1, 1)).cast("int").alias("first_cp"),
        F.coalesce(F.nullif(F.col("p_type"), F.lit("SMALL")), F.lit("WAS_SMALL")).alias("nn"),
        F.greatest(F.col("p_size"), F.lit(25)).alias("gr"),
        F.least(F.col("p_size"), F.lit(25)).alias("ls"),
    )


_SQL_STRING_FUNCTIONS = """
SELECT p_partkey,
       upper(p_name) AS up,
       lower(p_type) AS lo,
       CAST(length(p_name) AS INT) AS ln,
       lpad(p_brand, 12, '*') AS lp,
       rpad(p_brand, 12, '#') AS rp,
       substr(p_name, 1, 5) AS sub,
       translate(p_name, 'aeiou', 'AEIOU') AS tr,
       split_part(p_name, ' ', 1) AS sp,
       concat_ws('|', p_brand, p_type) AS cw,
       reverse(p_name) AS rev,
       repeat(p_brand, 2) AS rep2,
       CAST(strpos(p_name, 'a') AS INT) AS pos_a,
       trim(p_name) AS trm,
       CAST(ascii(substr(p_name, 1, 1)) AS INT) AS first_cp,
       coalesce(nullif(p_type, 'SMALL'), 'WAS_SMALL') AS nn,
       greatest(p_size, 25) AS gr,
       least(p_size, 25) AS ls
FROM part
"""


def _q_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic: this engine keeps Spark 4's ANSI mode ON
    (overflow/div-zero are errors, not silent wraps), so fallible
    expressions go through try_* — try_divide returns NULL on a zero
    divisor, which is exactly DuckDB's native `/` semantics.  Null
    counting + min/max (order-independent) keep the compare exact."""
    cat = Catalog(sf_dir)
    li = scan(spark, cat, "lineitem", ["l_returnflag", "l_extendedprice", "l_quantity"])
    unit = F.try_divide(F.col("l_extendedprice"), F.col("l_quantity") - F.lit(10.0))
    per = li.select("l_returnflag", unit.alias("u"))
    return per.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("u").isNull(), 1).otherwise(0)).cast("bigint").alias("n_div_zero"),
        F.min("u").alias("min_u"),
        F.max("u").alias("max_u"),
    )


_SQL_TRY_ARITHMETIC = """
SELECT l_returnflag,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN u IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_div_zero,
       MIN(u) AS min_u,
       MAX(u) AS max_u
FROM (SELECT l_returnflag,
             l_extendedprice / (l_quantity - 10.0) AS u
      FROM lineitem)
GROUP BY l_returnflag
"""


def _q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed document fingerprints (MOSS): distinct minima of every
    5-window of Rabin-Karp hashes — the fingerprint set that guarantees
    detection of shared runs of >= w+k-1 tokens at ~2/(w+1) density.
    The hash array is materialized as a column FIRST so the winnow
    least()-chain references it as an argument, computing the rolling
    chain once per row.  Bit-exact across engines."""
    from dbt_lab_spark.functions.text import rolling_hashes, winnow

    cat = Catalog(sf_dir)
    # Map-only per-doc array math: a single-row-group scan runs the
    # whole query in ONE task -- fan out (size-gated, guide 2.4).
    docs = fan_out_if_small(scan(spark, cat, "documents", ["doc_id", "text"]))
    rh = docs.select("doc_id", rolling_hashes("text", k=4).alias("rhs"))
    fps = rh.select("doc_id", F.size("rhs").alias("n_windows"), winnow(F.col("rhs"), w=5).alias("fps"))
    return fps.select(
        "doc_id",
        "n_windows",
        F.size("fps").alias("n_fps"),
        F.aggregate("fps", F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_fps"),
        F.array_min("fps").alias("min_fp"),
        F.array_max("fps").alias("max_fp"),
    )


_SQL_WINNOW = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), codes AS (
  SELECT doc_id,
         [COALESCE(CAST(list_sum([ascii(c) FOR c IN string_split(tok, '')]) AS BIGINT),
                   CAST(0 AS BIGINT)) FOR tok IN t] AS cs
  FROM toks
), rh AS (
  SELECT doc_id,
         CASE WHEN len(cs) < 4
              THEN [list_reduce(list_prepend(CAST(0 AS BIGINT), cs),
                                (acc, c) -> (acc * 257 + c) % 1000000007)]
              ELSE [list_reduce(list_prepend(CAST(0 AS BIGINT), cs[i:i+3]),
                                (acc, c) -> (acc * 257 + c) % 1000000007)
                    FOR i IN generate_series(1, len(cs) - 3)]
         END AS rhs
  FROM codes
), win AS (
  SELECT doc_id, CAST(len(rhs) AS INTEGER) AS n_windows,
         CASE WHEN len(rhs) < 5 THEN [list_min(rhs)]
              ELSE list_distinct([list_min(rhs[i:i+4])
                                  FOR i IN generate_series(1, len(rhs) - 4)])
         END AS fps
  FROM rh
)
SELECT doc_id, n_windows,
       CAST(len(fps) AS INTEGER) AS n_fps,
       CAST(list_sum(fps) AS BIGINT) AS sum_fps,
       list_min(fps) AS min_fp,
       list_max(fps) AS max_fp
FROM win
"""


def _q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding int8-quantization audit: per label, the worst and
    total |x - dequant(quant(x))| reconstruction error across all
    vectors — the go/no-go check before shipping 4x-compressed
    embeddings.  All arithmetic mirrored term-for-term; max is
    order-independent, the per-vector sum is a sequential fold in both
    engines, and the cross-vector aggregate rounds at 4dp."""
    from dbt_lab_spark.functions.vectors import quantization_error_int8, to_double_array

    cat = Catalog(sf_dir)
    emb = scan(spark, cat, "embeddings", ["vec_id", "label", "embedding"])
    errs = emb.select(
        "label", quantization_error_int8(to_double_array("embedding")).alias("e")
    )
    per_vec = errs.select(
        "label",
        F.array_max("e").alias("vmax"),
        F.aggregate("e", F.lit(0.0), lambda a, x: a + x).alias("vsum"),
    )
    return per_vec.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.max("vmax"), 6).alias("max_err"),
        F.round(F.max("vsum"), 6).alias("max_sum_err"),
    )


_SQL_QUANTIZE_INT8 = """
WITH base AS (
  SELECT label, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings
), scaled AS (
  SELECT label, v, list_min(v) AS mn,
         CASE WHEN list_max(v) = list_min(v) THEN 1.0
              ELSE (list_max(v) - list_min(v)) / 255.0 END AS sc
  FROM base
), errs AS (
  SELECT label,
         [abs((x - mn) - sc * least(greatest(floor((x - mn) / sc + 0.5), 0.0), 255.0))
          FOR x IN v] AS e
  FROM scaled
)
SELECT label, COUNT(*) AS n_vecs,
       round(MAX(list_max(e)), 6) AS max_err,
       round(MAX(list_reduce(list_prepend(0.0, e), (a, x) -> a + x)), 6) AS max_sum_err
FROM errs GROUP BY label
"""


def _q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface over token arrays: membership, position,
    distinct, sort, slice, reverse, concat — dialect differences
    normalized (DuckDB list_position yields NULL for absent vs Spark's
    0; list slicing is 1-based inclusive)."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text"])
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    t = docs.select("doc_id", toks.alias("t"))
    return t.select(
        "doc_id",
        F.array_contains("t", "the").alias("has_the"),
        F.array_position(F.col("t"), "the").cast("bigint").alias("pos_the"),
        F.size(F.array_distinct("t")).cast("int").alias("n_distinct"),
        F.element_at(F.sort_array("t"), 1).alias("first_sorted"),
        F.concat_ws(" ", F.slice(F.col("t"), 2, 3)).alias("mid3"),
        F.element_at(F.reverse(F.col("t")), 1).alias("last_tok"),
        F.size(F.concat(F.col("t"), F.col("t"))).cast("int").alias("n_doubled"),
    )


_SQL_ARRAY_FUNCTIONS = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
)
SELECT doc_id,
       list_contains(t, 'the') AS has_the,
       CAST(COALESCE(list_position(t, 'the'), 0) AS BIGINT) AS pos_the,
       CAST(len(list_distinct(t)) AS INT) AS n_distinct,
       list_sort(t)[1] AS first_sorted,
       array_to_string(t[2:4], ' ') AS mid3,
       list_reverse(t)[1] AS last_tok,
       CAST(len(t || t) AS INT) AS n_doubled
FROM t
"""


def _q_regex_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar surface: group extraction, global replace, match
    predicate, non-overlapping count — DuckDB's regexp_replace needs
    the explicit 'g' flag to match Spark's replace-all default."""
    cat = Catalog(sf_dir)
    part = scan(spark, cat, "part", ["p_partkey", "p_name"])
    return part.select(
        "p_partkey",
        F.regexp_extract("p_name", r"([a-z]+) ([a-z]+)", 2).alias("second_word"),
        F.regexp_replace("p_name", r"[aeiou]", "_").alias("devoweled"),
        F.col("p_name").rlike(r"^[sb]").alias("starts_sb"),
        F.regexp_count("p_name", F.lit(r"[aeiou]+")).cast("int").alias("n_vowel_runs"),
    )


_SQL_REGEX_FUNCTIONS = """
SELECT p_partkey,
       regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2) AS second_word,
       regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
       regexp_matches(p_name, '^[sb]') AS starts_sb,
       CAST(len(regexp_extract_all(p_name, '[aeiou]+')) AS INT) AS n_vowel_runs
FROM part
"""


def _q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style document chunking: overlapping token windows (size 32,
    stride 16) as ROWS — the context-window prep step before embedding.
    Shape: explode a chunk-index sequence, then ONE slice per chunk row
    (the token array rides along with the exploded row; no lambda
    closures, no re-tokenization).  Narrow + explode only: no shuffle
    until the final per-doc accounting."""
    cat = Catalog(sf_dir)
    size, stride = 32, 16
    docs = scan(spark, cat, "documents", ["doc_id", "text"])
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = F.size(toks)
    n_chunks = F.greatest(F.ceil((n - size) / F.lit(stride)) + 1, F.lit(1)).cast("int")
    t = docs.select("doc_id", toks.alias("t"), F.posexplode(F.sequence(F.lit(0), n_chunks - 1)))
    chunks = t.select(
        "doc_id",
        F.col("pos").alias("chunk_idx"),
        F.slice(F.col("t"), F.col("pos") * stride + 1, size).alias("chunk"),
    )
    return chunks.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum(F.size("chunk")).cast("bigint").alias("sum_chunk_tokens"),
        F.min(F.concat_ws(" ", F.slice(F.col("chunk"), 1, 3))).alias("min_chunk_head"),
    )


_SQL_TEXT_CHUNKS = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), idx AS (
  SELECT doc_id, t,
         greatest(CAST(ceil((len(t) - 32) / 16.0) AS INTEGER) + 1, 1) AS nc
  FROM t
), chunks AS (
  SELECT doc_id, unnest(generate_series(0, nc - 1)) AS chunk_idx, t
  FROM idx
)
SELECT doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(len(t[chunk_idx * 16 + 1 : chunk_idx * 16 + 32])) AS BIGINT)
         AS sum_chunk_tokens,
       MIN(array_to_string(t[chunk_idx * 16 + 1 : chunk_idx * 16 + 3], ' '))
         AS min_chunk_head
FROM chunks GROUP BY doc_id
"""


def _q_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PERCENTILE_DISC (smallest value whose cume_dist >= p) per
    group — Spark has only the continuous/approx forms built in, so
    this is the decorrelated window shape: row_number + count over the
    group, then one conditional MIN per percentile in a single
    aggregate.  Thresholds compare as INTEGER rationals
    (rn * den >= num * n), never p*n in floating point — ceil(0.9*n)
    is off by one whenever 0.9*n lands epsilon above an integer."""
    cat = Catalog(sf_dir)
    li = scan(spark, cat, "lineitem", ["l_returnflag", "l_extendedprice"])
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice", F.monotonically_increasing_id())
    ranked = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("l_returnflag")).alias("n"),
    )
    def disc(num: int, den: int, alias: str):
        return F.min(
            F.when(F.col("rn") * den >= F.lit(num) * F.col("n"), F.col("l_extendedprice"))
        ).alias(alias)
    return ranked.groupBy("l_returnflag").agg(
        disc(1, 2, "p50_disc"), disc(9, 10, "p90_disc"), disc(99, 100, "p99_disc")
    )


_SQL_PERCENTILE_DISC = """
WITH ranked AS (
  SELECT l_returnflag, l_extendedprice,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
)
SELECT l_returnflag,
       MIN(CASE WHEN rn * 2 >= 1 * n THEN l_extendedprice END) AS p50_disc,
       MIN(CASE WHEN rn * 10 >= 9 * n THEN l_extendedprice END) AS p90_disc,
       MIN(CASE WHEN rn * 100 >= 99 * n THEN l_extendedprice END) AS p99_disc
FROM ranked GROUP BY l_returnflag
"""


def _q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-typed column surface (absent in the reference's type system,
    SURVEY.md §1.2): per-user event-type histogram as map<string,long>
    built with map_from_entries over collect_list, then key lookups and
    cardinality.  Lookups are order-free, so the non-deterministic
    collect_list order doesn't leak.  (DuckDB's m[key] yields a list —
    unwrapped with [1] in the oracle.)"""
    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["user_id", "event_type"])
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    m = counts.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "n"))).alias("m")
    )
    return m.select(
        "user_id",
        F.coalesce(F.element_at("m", F.lit("purchase")), F.lit(0)).alias("n_purchase"),
        F.coalesce(F.element_at("m", F.lit("error")), F.lit(0)).alias("n_error"),
        F.size("m").cast("int").alias("n_types"),
    )


_SQL_MAP_FUNCTIONS = """
WITH c AS (
  SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY user_id, event_type
), m AS (
  SELECT user_id, map_from_entries(list({'k': event_type, 'v': n})) AS m
  FROM c GROUP BY user_id
)
SELECT user_id,
       CAST(COALESCE(m['purchase'][1], 0) AS BIGINT) AS n_purchase,
       CAST(COALESCE(m['error'][1], 0) AS BIGINT) AS n_error,
       CAST(cardinality(m) AS INT) AS n_types
FROM m
"""


# ---------------------------------------------------------------------------
# corpus curation: PII redaction, repetition filters, decontamination,
# domain mixing, sequence packing (llm/curation.py)
# ---------------------------------------------------------------------------


def _q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-redaction audit per source: plant deterministic emails
    (doc_id%3==0) and phone numbers (doc_id%5==0) into the text, then
    redact with llm/curation.py patterns and report match counts and
    characters removed.  Planting from doc_id keeps the query
    self-contained on the shared tables while exercising the real
    redaction path; one narrow projection + one aggregate."""
    from dbt_lab_spark.llm.curation import pii_counts, redact_pii

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text", "source"])
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com")
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    staged = docs.withColumn("aug", aug).withColumn("red", redact_pii(F.col("aug")))
    counts = pii_counts(F.col("aug"))
    return staged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(counts["n_emails"]).cast("long").alias("n_emails"),
        F.sum(counts["n_phones"]).cast("long").alias("n_phones"),
        F.sum(F.length("aug") - F.length("red")).cast("long").alias("chars_removed"),
    )


def _sql_pii_redact() -> str:
    from dbt_lab_spark.llm.curation import EMAIL_RE, PHONE_RE

    sql = r"""
WITH aug AS (
  SELECT source,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS a
  FROM documents
), red AS (
  SELECT source, a,
         regexp_replace(regexp_replace(a, '@EMAIL@', '<EMAIL>', 'g'),
                        '@PHONE@', '<PHONE>', 'g') AS r
  FROM aug
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(regexp_extract_all(a, '@EMAIL@'))) AS BIGINT) AS n_emails,
       CAST(SUM(len(regexp_extract_all(a, '@PHONE@'))) AS BIGINT) AS n_phones,
       CAST(SUM(length(a) - length(r)) AS BIGINT) AS chars_removed
FROM red GROUP BY source
"""
    return sql.replace("@EMAIL@", EMAIL_RE).replace("@PHONE@", PHONE_RE)


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/boilerplate statistics per language:
    corpus-level duplicate-token fraction, duplicate-bigram fraction,
    top-token mass, and the count of documents over a 0.5 per-doc
    duplicate-token threshold.  Everything is computed from per-doc
    array expressions (array_distinct / zip_with / one aggregate()
    run-length pass — see curation.max_multiplicity), so the whole
    scan is a single narrow map stage + one aggregate: no explode, no
    per-token shuffle, which is the difference between one pass and a
    token-cardinality shuffle at 100 TB.  Ratios are single double
    divisions of exact integer sums — bit-identical cross-engine."""
    from dbt_lab_spark.llm.curation import max_multiplicity

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text", "lang"])
    toked = docs.select(
        "lang", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("toks")
    )
    n = F.size("toks")
    bg = F.zip_with(
        F.slice("toks", 1, n - 1),
        F.slice(F.col("toks"), 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    per_doc = toked.select(
        "lang",
        n.alias("nt"),
        F.size(F.array_distinct("toks")).alias("nd"),
        max_multiplicity(F.col("toks")).alias("top"),
        F.size(bg).alias("nb"),
        F.size(F.array_distinct(bg)).alias("ndb"),
    )
    flagged = F.when(
        F.lit(1.0) - F.col("nd").cast("double") / F.col("nt") > 0.5, 1
    ).otherwise(0)
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(flagged).cast("long").alias("n_flagged"),
        (F.lit(1.0) - F.sum("nd").cast("double") / F.sum("nt")).alias("dup_token_frac"),
        (F.lit(1.0) - F.sum("ndb").cast("double") / F.sum("nb")).alias("dup_bigram_frac"),
        (F.sum("top").cast("double") / F.sum("nt")).alias("top_token_frac"),
    )


_SQL_REPETITION = r"""
WITH toks AS (
  SELECT lang, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), per_doc AS (
  SELECT lang,
         len(t) AS nt,
         len(list_distinct(t)) AS nd,
         list_max([len(list_filter(t, x -> x = u)) FOR u IN list_distinct(t)]) AS top,
         CASE WHEN len(t) < 2 THEN 0
              ELSE len(t) - 1 END AS nb,
         CASE WHEN len(t) < 2 THEN 0
              ELSE len(list_distinct([array_to_string(t[i:i+1], ' ')
                                      FOR i IN generate_series(1, len(t)-1)])) END AS ndb
  FROM toks
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN CAST(1.0 AS DOUBLE) - CAST(nd AS DOUBLE) / nt > CAST(0.5 AS DOUBLE)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(1.0 AS DOUBLE) - CAST(SUM(nd) AS DOUBLE) / CAST(SUM(nt) AS DOUBLE) AS dup_token_frac,
       CAST(1.0 AS DOUBLE) - CAST(SUM(ndb) AS DOUBLE) / CAST(SUM(nb) AS DOUBLE) AS dup_bigram_frac,
       CAST(SUM(top) AS DOUBLE) / CAST(SUM(nt) AS DOUBLE) AS top_token_frac
FROM per_doc GROUP BY lang
"""


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id%97==0 stand in as
    the held-out eval set; report, per eval doc, how many training
    docs share at least one distinct 8-token shingle with it and the
    total/max shared-gram counts (llm/curation.decontamination_pairs:
    shingle -> md5-key equi-join -> count; the eval side broadcasts)."""
    from dbt_lab_spark.llm.curation import decontamination_pairs

    cat = Catalog(sf_dir)
    # Fan out the single-row-group scan across cores before the
    # compute-dense n-gram/vector pipelines (size-gated, guide 2.4).
    docs = fan_out_if_small(scan(spark, cat, "documents", ["doc_id", "text"]))
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    tr = docs.filter(F.col("doc_id") % 97 != 0)
    pairs = decontamination_pairs(tr, ev, k=8, min_shared=1)
    return pairs.groupBy("eval_id").agg(
        F.count("*").alias("n_train_docs"),
        F.sum("n_shared").cast("long").alias("n_shared_ngrams"),
        F.max("n_shared").alias("max_shared"),
    )


_SQL_DECONTAMINATE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
              ELSE [array_to_string(t[i:i+7], ' ') FOR i IN generate_series(1, len(t)-7)]
         END) AS s
  FROM toks
), ex AS (
  SELECT doc_id, substr(md5(g), 1, 16) AS gh
  FROM (SELECT doc_id, unnest(s) AS g FROM sh)
), pairs AS (
  SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id, COUNT(*) AS n_shared
  FROM ex tr JOIN ex ev ON tr.gh = ev.gh
  WHERE tr.doc_id % 97 <> 0 AND ev.doc_id % 97 = 0
  GROUP BY 1, 2
)
SELECT eval_id,
       COUNT(*) AS n_train_docs,
       CAST(SUM(n_shared) AS BIGINT) AS n_shared_ngrams,
       CAST(MAX(n_shared) AS BIGINT) AS max_shared
FROM pairs GROUP BY eval_id
"""


_MIX_EPOCHS: dict[str, float] = {f"src{i}": (2.0, 1.5, 1.0, 0.3)[i % 4] for i in range(20)}


def _q_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-weighted domain mixing: materialize a target mixture
    (source src{i} gets 2.0/1.5/1.0/0.3 epochs by i%4) as
    deterministic row repetition (llm/curation.mix_epochs — full
    copies + md5-threshold fractional copies, narrow explode, no
    RNG), then audit rows-out / docs-kept / max-epoch per source."""
    from dbt_lab_spark.llm.curation import mix_epochs

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "source"])
    mixed = mix_epochs(docs, "doc_id", "source", _MIX_EPOCHS)
    return mixed.groupBy("source").agg(
        F.count("*").alias("n_rows_out"),
        F.countDistinct("doc_id").alias("n_docs_kept"),
        F.max("epoch").alias("max_epoch"),
    )


def _sql_mix_epochs() -> str:
    import math as _math

    from dbt_lab_spark.llm.sampling import hash_threshold

    full_arms = " ".join(
        f"WHEN '{s}' THEN {int(_math.floor(e))}" for s, e in sorted(_MIX_EPOCHS.items())
    )
    thr_arms = " ".join(
        f"WHEN '{s}' THEN '{hash_threshold(e - _math.floor(e))}'"
        for s, e in sorted(_MIX_EPOCHS.items())
    )
    return f"""
WITH base AS (
  SELECT doc_id, source,
         (CASE source {full_arms} ELSE 0 END)
         + (CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 15)
                      < (CASE source {thr_arms} ELSE '000000000000000' END)
                 THEN 1 ELSE 0 END) AS nc
  FROM documents
), mixed AS (
  SELECT source, doc_id, CAST(unnest(generate_series(1, nc)) AS INTEGER) AS epoch
  FROM base WHERE nc >= 1
)
SELECT source,
       COUNT(*) AS n_rows_out,
       COUNT(DISTINCT doc_id) AS n_docs_kept,
       MAX(epoch) AS max_epoch
FROM mixed GROUP BY source
"""


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining loaders: BPE-ish token counts
    per doc, then pack_id = floor(prefix-sum-before / 2048) within
    each language ordered by doc_id (llm/curation.pack_sequences —
    one window shuffle, integer-exact bin arithmetic), audited as
    docs/tokens/doc-range per pack.  At 100 TB the partition key
    would be (lang, shard) to keep windows bounded; the prefix-sum
    assignment is what keeps packing parallel at all — first-fit
    bin-packing is inherently sequential."""
    from dbt_lab_spark.llm.curation import pack_sequences

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text", "lang"])
    toked = docs.select(
        "doc_id", "lang", bpe_ish_token_count("text").alias("n_tokens")
    )
    packed = pack_sequences(toked, "lang", "doc_id", "n_tokens", budget=2048)
    return packed.groupBy("lang", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_SQL_PACK_SEQUENCES = r"""
WITH tok AS (
  SELECT doc_id, lang,
         CAST(list_sum([CAST(ceil(length(w) / 4.0) AS INTEGER)
                        FOR w IN string_split_regex(trim(text), '\s+')]) AS INTEGER) AS n_tokens
  FROM documents
), cum AS (
  SELECT lang, doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS c
  FROM tok
), packed AS (
  SELECT lang, doc_id, n_tokens, CAST((c - c % 2048) / 2048 AS BIGINT) AS pack_id FROM cum
)
SELECT lang, pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM packed GROUP BY lang, pack_id
"""


def _q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-percentile quality filtering (the FineWeb-style 'drop
    the worst quartile' step): compute the exact p25 quality threshold
    as a rank statistic (min q with 4*row_number >= n — integer-exact,
    no interpolated-percentile cross-engine ulp risk), broadcast the
    1-row threshold, keep docs at or above it.  The global row_number
    sort is the exact small-N path; at 100 TB swap the threshold
    subquery for percentile_approx (mergeable KLL sketch, no global
    sort) — the broadcast-filter shape is unchanged."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text", "lang"])
    scored = docs.select("doc_id", "lang", quality_score("text").alias("q"))
    n_df = scored.agg(F.count("*").alias("n"))
    ranked = scored.select("doc_id", "q").withColumn(
        "rn", F.row_number().over(Window.orderBy("q", "doc_id"))
    )
    thresh = (
        ranked.crossJoin(F.broadcast(n_df))
        .filter(4 * F.col("rn") >= F.col("n"))
        .agg(F.min("q").alias("t"))
    )
    kept = scored.crossJoin(F.broadcast(thresh)).filter(F.col("q") >= F.col("t"))
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.min("q").alias("min_q_kept"),
        F.sum(F.col("q").cast("decimal(18,4)")).cast("double").alias("sum_q_kept"),
    )


_SQL_QUALITY_FILTER = r"""
WITH raw AS (
  SELECT doc_id, lang,
         string_split_regex(lower(trim(text)), '\s+') AS toks,
         trim(text) AS t
  FROM documents
), feats AS (
  SELECT doc_id, lang,
         CAST(length(t) AS DOUBLE) AS n_chars,
         CAST(length(regexp_replace(t, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
         CAST(len(toks) AS DOUBLE) AS n_tok,
         CAST(len(list_intersect(toks,
              ['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','that','this','be','are','was'])) AS DOUBLE) AS stop_hits
  FROM raw
), per_doc AS (
  SELECT doc_id, lang,
         round(CAST(0.3 AS DOUBLE) * least(n_chars / 200.0, 1.0)
             + CAST(0.3 AS DOUBLE) * (n_alpha / greatest(n_chars, 1.0))
             + CAST(0.2 AS DOUBLE) * least(stop_hits / 3.0, 1.0)
             + CAST(0.2 AS DOUBLE) * (CASE WHEN n_chars / greatest(n_tok, 1.0) >= 3.0
                                            AND n_chars / greatest(n_tok, 1.0) <= 12.0
                                           THEN CAST(1.0 AS DOUBLE)
                                           ELSE CAST(0.3 AS DOUBLE) END), 4) AS q
  FROM feats
), n AS (
  SELECT COUNT(*) AS n FROM per_doc
), ranked AS (
  SELECT q, ROW_NUMBER() OVER (ORDER BY q, doc_id) AS rn FROM per_doc
), t AS (
  SELECT MIN(q) AS t FROM ranked, n WHERE 4 * rn >= n
)
SELECT lang,
       COUNT(*) AS n_kept,
       MIN(q) AS min_q_kept,
       CAST(SUM(CAST(q AS DECIMAL(18,4))) AS DOUBLE) AS sum_q_kept
FROM per_doc, t WHERE q >= t GROUP BY lang
"""


def _q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (the per-host crawl cap): keep at most
    20 docs per source, chosen by deterministic md5-hash order (a
    stable uniform subsample — the same doc set survives data growth
    and repartitioning), audited as kept-count + kept-id checksum.
    One window shuffle on source; heavy-host skew splits under AQE."""
    from dbt_lab_spark.llm.sampling import hash_bucket

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "source"])
    w = Window.partitionBy("source").orderBy("hb", "doc_id")
    ranked = docs.withColumn("hb", hash_bucket("doc_id", "cap")).withColumn(
        "rn", F.row_number().over(w)
    )
    kept = ranked.filter(F.col("rn") <= 20)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("sum_kept_ids"),
    )


_SQL_SOURCE_CAP = """
WITH h AS (
  SELECT doc_id, source,
         substr(md5(CAST(doc_id AS VARCHAR) || 'cap'), 1, 15) AS hb
  FROM documents
), ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY hb, doc_id) AS rn
  FROM h
)
SELECT source, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS sum_kept_ids
FROM ranked WHERE rn <= 20 GROUP BY source
"""


def _q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl dedup: docs with doc_id%10==9 play the new
    batch, the rest the existing corpus.  A new doc survives iff its
    md5 fingerprint is absent from the corpus AND it is the first
    occurrence within its batch (window keep-first).  Per-source
    audit: batch size, corpus-dup count, kept count.  The corpus side
    reduces to distinct fingerprints before the join — at 100 TB
    that's the difference between joining a fingerprint index and
    re-shuffling the corpus text."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text", "source"])
    corpus_fp = (
        docs.filter(F.col("doc_id") % 10 != 9).select(fingerprint("text").alias("fp")).distinct()
    )
    new = docs.filter(F.col("doc_id") % 10 == 9).select(
        "doc_id", "source", fingerprint("text").alias("fp")
    )
    marked = new.join(corpus_fp.withColumn("in_corpus", F.lit(1)), "fp", "left")
    w = Window.partitionBy("fp").orderBy("doc_id")
    flagged = marked.withColumn("rn", F.row_number().over(w))
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_new"),
        F.sum(F.when(F.col("in_corpus").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_dup_corpus"),
        F.sum(
            F.when(F.col("in_corpus").isNull() & (F.col("rn") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_kept"),
    )


_SQL_INCREMENTAL_DEDUP = """
WITH corpus AS (
  SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 10 <> 9
), new_batch AS (
  SELECT doc_id, source, md5(text) AS fp FROM documents WHERE doc_id % 10 = 9
), marked AS (
  SELECT n.doc_id, n.source, n.fp,
         CASE WHEN c.fp IS NOT NULL THEN 1 END AS in_corpus,
         ROW_NUMBER() OVER (PARTITION BY n.fp ORDER BY n.doc_id) AS rn
  FROM new_batch n LEFT JOIN corpus c ON n.fp = c.fp
)
SELECT source,
       COUNT(*) AS n_new,
       CAST(SUM(CASE WHEN in_corpus IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_corpus,
       CAST(SUM(CASE WHEN in_corpus IS NULL AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM marked GROUP BY source
"""


def _q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by the ISO week of their first
    event; for each (cohort_week, weeks_since_cohort) count distinct
    active users.  First-event lookup is a tiny per-user aggregate
    broadcast back onto the event stream; the week offset is exact
    integer day arithmetic ((d - d%7)/7, never floor of a double)."""
    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["user_id", "ts"])
    firsts = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    joined = ev.join(F.broadcast(firsts), "user_id")
    d = F.datediff(F.to_date(F.date_trunc("week", F.col("ts"))), F.col("cohort_week"))
    offset = ((d - d % 7) / 7).cast("int")
    return (
        joined.withColumn("week_offset", offset)
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active_users"))
    )


_SQL_RETENTION = """
WITH firsts AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week FROM events GROUP BY user_id
), joined AS (
  SELECT e.user_id, f.cohort_week,
         date_diff('day', f.cohort_week, date_trunc('week', e.ts)) AS d
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT cohort_week,
       CAST((d - d % 7) / 7 AS INTEGER) AS week_offset,
       COUNT(DISTINCT user_id) AS n_active_users
FROM joined GROUP BY 1, 2
"""


def _q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling summary (the ANALYZE/statistics surface as a
    query): one pass over orders computing per-column row count, null
    count, and exact NDV, pivoted to one row per column.  Spark plans
    the multi-distinct aggregate as a single Expand — one scan, not
    one scan per column."""
    cat = Catalog(sf_dir)
    orders = scan(
        spark, cat, "orders", ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
    )
    agg = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            x
            for c in ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
            for x in (
                (F.count(F.lit(1)) - F.count(c)).alias(f"null_{c}"),
                F.countDistinct(c).alias(f"ndv_{c}"),
            )
        ],
    )
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"null_{c}").alias("n_null"),
                F.col(f"ndv_{c}").alias("ndv"),
            )
            for c in cols
        ]
    )
    return agg.select(F.explode(structs).alias("s")).select("s.*")


_SQL_PROFILE = """
SELECT 'o_orderkey' AS column_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT(o_orderkey) AS n_null, COUNT(DISTINCT o_orderkey) AS ndv
FROM orders
UNION ALL
SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey), COUNT(DISTINCT o_custkey)
FROM orders
UNION ALL
SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice), COUNT(DISTINCT o_totalprice)
FROM orders
UNION ALL
SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
       COUNT(DISTINCT o_orderpriority)
FROM orders
"""


def _q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outlier detection: count events more
    than 3 sample standard deviations from their type's mean.  The
    group stats come from ONE partial+final aggregate over exact
    DECIMAL sums (order-independent — never stddev_samp over raw
    doubles, whose float summation order differs per partitioning),
    then broadcast-join back onto the stream; mean/variance are
    derived in double with the identical expression the oracle uses,
    so the 3-sigma comparison is bit-deterministic cross-engine."""
    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["event_type", "value"])
    dec = money("value")
    stats = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(dec).alias("sum_x"),
        F.sum(dec * dec).alias("sum_x2"),
    )
    mean = F.col("sum_x").cast("double") / F.col("n")
    var = (
        F.col("sum_x2").cast("double")
        - F.col("sum_x").cast("double") * F.col("sum_x").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    enriched = ev.join(F.broadcast(stats), "event_type").withColumn(
        "__mean", mean
    ).withColumn("__sd", F.sqrt(var))
    return enriched.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.max("__mean").alias("mean_value"),
        F.max("__sd").alias("sd_value"),
        F.sum(
            F.when(
                F.abs(F.col("value") - F.col("__mean")) > 3 * F.col("__sd"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_outliers"),
    )


_SQL_ZSCORE_OUTLIERS = """
WITH stats AS (
  SELECT event_type,
         COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(18,2))) AS sum_x,
         SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS sum_x2
  FROM events GROUP BY event_type
), derived AS (
  SELECT event_type, n,
         CAST(sum_x AS DOUBLE) / n AS m,
         sqrt((CAST(sum_x2 AS DOUBLE) - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE) / n)
              / (n - 1)) AS sd
  FROM stats
)
SELECT e.event_type,
       COUNT(*) AS n_events,
       MAX(d.m) AS mean_value,
       MAX(d.sd) AS sd_value,
       CAST(SUM(CASE WHEN abs(e.value - d.m) > 3 * d.sd THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM events e JOIN derived d ON e.event_type = d.event_type
GROUP BY e.event_type
"""


def _q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation, composing the full operator set in
    the order a production pretraining pipeline runs them:

      1. gate: predicted-English, quality >= 0.5, per-doc duplicate-
         token fraction <= 0.5 (all narrow array expressions);
      2. exact dedup keep-first on the md5 fingerprint (one window);
      3. PII plant (deterministic, from doc_id) + redaction;
      4. per-source cap of 50 by md5-hash order (one window);
      5. audit aggregate per source: kept docs, BPE-ish tokens of the
         redacted text, characters redacted.

    Three shuffles total (fingerprint window, source window, final
    agg — the last two share the source partitioning).  Every stage
    is mirrored term-for-term in the oracle."""
    from dbt_lab_spark.llm.curation import redact_pii
    from dbt_lab_spark.llm.sampling import hash_bucket

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text", "source"])
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    dup_frac = F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    gated = docs.filter(
        (quality_score("text") >= 0.5)
        & (lang_id("text") == "en")
        & (dup_frac <= 0.5)
    )
    w_fp = Window.partitionBy(fingerprint("text")).orderBy("doc_id")
    deduped = gated.withColumn("__rn", F.row_number().over(w_fp)).filter(
        F.col("__rn") == 1
    )
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com")
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    redacted = deduped.withColumn("aug", aug).withColumn("red", redact_pii(F.col("aug")))
    w_cap = Window.partitionBy("source").orderBy("hb", "doc_id")
    capped = (
        redacted.withColumn("hb", hash_bucket("doc_id", "cap"))
        .withColumn("__cn", F.row_number().over(w_cap))
        .filter(F.col("__cn") <= 50)
    )
    return capped.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(bpe_ish_token_count(F.col("red"))).cast("long").alias("sum_bpe_tokens"),
        F.sum(F.length("aug") - F.length("red")).cast("long").alias("chars_removed"),
    )


def _sql_curation_pipeline() -> str:
    from dbt_lab_spark.llm.curation import EMAIL_RE, PHONE_RE

    sql = r"""
WITH raw AS (
  SELECT doc_id, source, text,
         string_split_regex(lower(trim(text)), '\s+') AS toks,
         trim(text) AS t
  FROM documents
), feats AS (
  SELECT doc_id, source, text, toks,
         CAST(length(t) AS DOUBLE) AS n_chars,
         CAST(length(regexp_replace(t, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
         CAST(len(toks) AS DOUBLE) AS n_tok,
         CAST(len(list_intersect(toks,
              ['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','that','this','be','are','was'])) AS DOUBLE) AS stop_hits,
         len(list_intersect(toks, ['the','and','of','to','is','in','that','it','for','with'])) AS s_en,
         len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein','mit','auf','für'])) AS s_de,
         len(list_intersect(toks, ['le','la','les','et','est','une','pour','dans','que','des'])) AS s_fr,
         len(list_intersect(toks, ['el','la','los','y','es','una','para','en','que','por'])) AS s_es
  FROM raw
), gated AS (
  SELECT doc_id, source, text
  FROM feats
  WHERE round(CAST(0.3 AS DOUBLE) * least(n_chars / 200.0, 1.0)
            + CAST(0.3 AS DOUBLE) * (n_alpha / greatest(n_chars, 1.0))
            + CAST(0.2 AS DOUBLE) * least(stop_hits / 3.0, 1.0)
            + CAST(0.2 AS DOUBLE) * (CASE WHEN n_chars / greatest(n_tok, 1.0) >= 3.0
                                           AND n_chars / greatest(n_tok, 1.0) <= 12.0
                                          THEN CAST(1.0 AS DOUBLE)
                                          ELSE CAST(0.3 AS DOUBLE) END), 4)
          >= CAST(0.5 AS DOUBLE)
    AND s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es
    AND CAST(1.0 AS DOUBLE) - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
          <= CAST(0.5 AS DOUBLE)
), deduped AS (
  SELECT doc_id, source, text
  FROM (SELECT doc_id, source, text,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM gated)
  WHERE rn = 1
), planted AS (
  SELECT doc_id, source,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS aug
  FROM deduped
), red AS (
  SELECT doc_id, source, aug,
         regexp_replace(regexp_replace(aug, '@EMAIL@', '<EMAIL>', 'g'),
                        '@PHONE@', '<PHONE>', 'g') AS r
  FROM planted
), capped AS (
  SELECT doc_id, source, aug, r
  FROM (SELECT doc_id, source, aug, r,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || 'cap'), 1, 15),
                                           doc_id) AS cn
        FROM red)
  WHERE cn <= 50
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(list_sum([CAST(ceil(length(w) / 4.0) AS INTEGER)
                               FOR w IN string_split_regex(trim(r), '\s+')]) AS INTEGER))
            AS BIGINT) AS sum_bpe_tokens,
       CAST(SUM(length(aug) - length(r)) AS BIGINT) AS chars_removed
FROM capped GROUP BY source
"""
    return sql.replace("@EMAIL@", EMAIL_RE).replace("@PHONE@", PHONE_RE)


def _q_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debounce: drop events landing within 1 s of the
    previous event of the same (user, type) — the standard lag-based
    SQL debounce (each event compares to the previous RAW event, the
    form that stays one window pass; the keep-chain variant where
    events compare to the previous KEPT event is inherently
    sequential per key and needs applyInPandasWithState — see
    streaming/stateful.py for that machinery).  Exact epoch-millis
    integer comparison; one shuffle."""
    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["event_id", "user_id", "event_type", "ts"])
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_millis(F.col("ts")) - F.unix_millis(F.lag("ts").over(w))
    kept = F.when(gap.isNull() | (gap > 1000), 1).otherwise(0)
    return ev.withColumn("__k", kept).groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("__k").cast("long").alias("n_kept"),
    )


_SQL_DEBOUNCE = """
WITH flagged AS (
  SELECT event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_ms(ts) - epoch_ms(LAG(ts) OVER w) > 1000
              THEN 1 ELSE 0 END AS k
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
)
SELECT event_type, COUNT(*) AS n_events, CAST(SUM(k) AS BIGINT) AS n_kept
FROM flagged GROUP BY event_type
"""


def _q_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contribution analysis: each nation's share of global order
    revenue.  Two-level aggregate + broadcast of the 1-row grand
    total — NOT an unpartitioned window over the fact rows, which
    would funnel every row through one task at 100 TB.  Decimal-exact
    sums; the share is one double division of identical operands."""
    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_custkey", "o_totalprice"])
    cust = scan(spark, cat, "customer", ["c_custkey", "c_nationkey"])
    nation = scan(spark, cat, "nation", ["n_nationkey", "n_name"])
    per_nation = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(money("o_totalprice")).alias("rev_dec"))
    )
    grand = per_nation.agg(F.sum("rev_dec").alias("total_dec"))
    return (
        per_nation.crossJoin(F.broadcast(grand))
        .select(
            "n_name",
            F.col("rev_dec").cast("double").alias("revenue"),
            (F.col("rev_dec").cast("double") / F.col("total_dec").cast("double")).alias(
                "rev_share"
            ),
        )
    )


_SQL_SHARE_OF_TOTAL = """
WITH per_nation AS (
  SELECT n.n_name, SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev_dec
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
), grand AS (
  SELECT SUM(rev_dec) AS total_dec FROM per_nation
)
SELECT n_name,
       CAST(rev_dec AS DOUBLE) AS revenue,
       CAST(rev_dec AS DOUBLE) / CAST(total_dec AS DOUBLE) AS rev_share
FROM per_nation, grand
"""


def _q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus ingestion through the real WARC wire format
    (ISO 28500, what CommonCrawl ships): frame every document as a
    WARC response record into hash-bucketed shard blobs
    (applyInPandas writer), then parse the blobs back with the
    map-only record scanner and aggregate per source.

    The oracle recomputes the same aggregates straight from
    `documents` in DuckDB — equality proves the framing/parsing
    round-trip preserved every record, byte count, and URI.

    Scale posture: shard assembly is one task per shard (shard count =
    parallelism knob); parsing is map-only over blobs with no shuffle;
    the only shuffle is the final per-source aggregate."""
    from dbt_lab_spark.sources import build_warc_shards, parse_warc

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text", "source"]).withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    shards = build_warc_shards(docs, n_shards=8, compress=True)  # real .warc.gz framing
    records = parse_warc(shards)
    return (
        records.withColumn(
            "source", F.regexp_extract("target_uri", r"https://corpus\.example/([^/]+)/", 1)
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_records"),
            F.sum("content_length").alias("total_payload_bytes"),
            F.count_distinct("target_uri").alias("n_uris"),
        )
        .orderBy("source")
    )


def _q_hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (the fastText/CCNet front end) on
    the md5 oracle plane: unigrams + bigrams -> md5->int mod 2^16,
    aggregated to the 20 heaviest features.  All JVM expressions
    (split/explode/conv) — the per-token path never enters Python.
    Full oracle: DuckDB recomputes the identical feature ids."""
    from dbt_lab_spark.llm.classifier import hash_features

    cat = Catalog(sf_dir)
    # Fan out the single-row-group scan before the n-gram explode
    # (size-gated, guide 2.4).
    docs = fan_out_if_small(scan(spark, cat, "documents", ["doc_id", "text"]))
    feats = hash_features(docs, n_features=1 << 16)
    return (
        feats.groupBy("idx")
        .agg(
            F.sum("tf").cast("long").alias("total_tf"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("total_tf"), "idx")
        .limit(20)
    )


def _sql_hash_features() -> str:
    hex_to_int = " + ".join(
        f"(strpos('0123456789abcdef', m[{i}:{i}]) - 1) * {16 ** (15 - i)}"
        for i in range(1, 16)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), grams AS (
  SELECT doc_id,
         list_concat(
           t,
           CASE WHEN len(t) < 2 THEN []
                ELSE [array_to_string(t[i:i+1], ' ') FOR i IN generate_series(1, len(t)-1)]
           END
         ) AS g
  FROM toks WHERE len(t) > 0
), hx AS (
  SELECT doc_id, md5(u.u) AS m FROM grams, unnest(g) AS u(u)
), feat AS (
  SELECT doc_id, ({hex_to_int}) % 65536 AS idx FROM hx
)
SELECT idx, COUNT(*) AS total_tf, COUNT(DISTINCT doc_id) AS n_docs
FROM feat GROUP BY idx
ORDER BY total_tf DESC, idx LIMIT 20
"""


def _q_logreg_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE full-batch gradient step of the hashing-trick logistic
    regression from the zero init — the oracle-checkable variant of
    q_classifier_train: at w=0 the prediction is exactly 0.5, so the
    step reduces to w[i] = -lr * mean((0.5 - y) * x_i) over the real
    hash_features -> prepare_training -> train_logreg(iters=1) path
    (md5 feature plane, log1p + per-doc L2 value transform) — pure
    relational algebra DuckDB replays, and the exact first iterate of
    the 12-step rows-only training query.  Output: every surviving
    (idx, weight), rounded to 8."""
    from dbt_lab_spark.llm.classifier import (
        hash_features,
        prepare_training,
        train_logreg,
        weights_table,
    )

    nf = 1 << 16
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text", "lang"])
    labels = docs.select("doc_id", (F.col("lang") == "en").cast("int").alias("label"))
    feats = hash_features(docs, n_features=nf)
    w, _b, _losses = train_logreg(
        prepare_training(feats, labels), n_features=nf, iters=1, lr=0.5, l2=0.0
    )
    wt = weights_table(spark, w)
    return wt.select("idx", F.round("weight", 8).alias("weight"))


def _sql_logreg_step() -> str:
    hex_to_int = " + ".join(
        f"(strpos('0123456789abcdef', m[{i}:{i}]) - 1) * {16 ** (15 - i)}"
        for i in range(1, 16)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), grams AS (
  SELECT doc_id, lang,
         list_concat(
           t,
           CASE WHEN len(t) < 2 THEN []
                ELSE [array_to_string(t[i:i+1], ' ') FOR i IN generate_series(1, len(t)-1)]
           END
         ) AS g
  FROM toks WHERE len(t) > 0
), hx AS (
  SELECT doc_id, lang, md5(u.u) AS m FROM grams, unnest(g) AS u(u)
), feat AS (
  SELECT doc_id, lang, ({hex_to_int}) % 65536 AS idx, COUNT(*) AS tf
  FROM hx GROUP BY doc_id, lang, ({hex_to_int}) % 65536
), vals AS (
  SELECT doc_id, idx,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         ln(1 + tf) / sqrt(SUM(ln(1 + tf) * ln(1 + tf))
                           OVER (PARTITION BY doc_id)) AS v
  FROM feat
), n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM vals),
w AS (
  SELECT idx,
         -0.5 * SUM((0.5 - y) * v) / (SELECT n FROM n) AS w
  FROM vals GROUP BY idx
)
SELECT idx, round(w, 8) AS weight FROM w WHERE abs(w) > 1e-12
"""


def _q_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the hashing-trick logistic-regression language filter
    (label: lang = 'en') by distributed full-batch gradient descent —
    one map-only sufficient-stats pass per iteration, Lloyd-style —
    then score the corpus JVM-side (broadcast weight join) and report
    per-source accuracy.  Deterministic: no sampling, float64 partials,
    fixed iterations.  Rows-only check (iterative training is not
    SQL-expressible); convergence/accuracy/determinism pinned in tests/."""
    from dbt_lab_spark.llm.classifier import (
        hash_features,
        prepare_training,
        score_logreg,
        train_logreg,
        weights_table,
    )

    nf = 1 << 15
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text", "lang", "source"])
    labels = docs.select("doc_id", (F.col("lang") == "en").cast("int").alias("label"))
    feats = hash_features(docs, n_features=nf).persist()
    try:
        w, b, losses = train_logreg(
            prepare_training(feats, labels), n_features=nf, iters=12, lr=0.5, adagrad=True
        )
        scored = score_logreg(feats, weights_table(spark, w), b)
    finally:
        feats.unpersist()
    return (
        scored.join(labels, "doc_id")
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("label").alias("n_en"),
            F.round(F.avg("score"), 4).alias("avg_score"),
            F.round(
                F.avg(((F.col("score") > 0.5).cast("int") == F.col("label")).cast("double")),
                4,
            ).alias("accuracy"),
        )
        .orderBy("source")
    )


def _q_webdataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal-corpus container round-trip through WebDataset tar
    shards (the LAION-style layout: {key}.txt + {key}.json members per
    sample in POSIX-ustar shards, headers spec-written for byte
    determinism).  Pack documents into 8 shards, unpack map-only,
    reassemble samples by key (txt payload joined to json metadata via
    get_json_object), aggregate per source.  The DuckDB oracle
    recomputes the aggregates straight from documents — equality
    proves sample grouping, payload bytes, and metadata all survived
    the container."""
    from dbt_lab_spark.sources import build_webdataset_shards, read_webdataset

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text", "source"])
    members = read_webdataset(build_webdataset_shards(docs, n_shards=8))
    txt = members.filter(F.col("ext") == "txt").select(
        "key", F.length("payload").alias("n_bytes")
    )
    meta = members.filter(F.col("ext") == "json").select(
        "key",
        F.get_json_object(F.col("payload").cast("string"), "$.source").alias("source"),
    )
    return (
        txt.join(meta, "key")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_samples"),
            F.sum("n_bytes").alias("total_text_bytes"),
        )
        .orderBy("source")
    )


_SQL_WEBDATASET = r"""
SELECT source,
       COUNT(*) AS n_samples,
       SUM(strlen(COALESCE(text, ''))) AS total_text_bytes
FROM documents
GROUP BY source
ORDER BY source
"""


def _q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-reweighted mixture sampling (alpha=0.5, target half
    the corpus): per-source md5-deterministic keep decisions against a
    computed rate threshold, aggregated to per-source kept counts.
    Full oracle: DuckDB replicates rate computation, hex rendering,
    and the hash filter term-for-term."""
    from dbt_lab_spark.llm.sampling import temperature_mix

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "source"])
    kept = temperature_mix(docs, "doc_id", "source", alpha=0.5, target_fraction=0.5)
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.round(F.first("mix_rate"), 6).alias("mix_rate"),
        )
        .orderBy("source")
    )


_SQL_TEMPERATURE_MIX = r"""
WITH c AS (
  SELECT source, CAST(COUNT(*) AS DOUBLE) AS n_s FROM documents GROUP BY source
), z AS (
  SELECT SUM(power(n_s, 0.5)) AS z, SUM(n_s) AS n FROM c
), r AS (
  SELECT source, LEAST(1.0, 0.5 * z.n * power(n_s, 0.5) / z.z / n_s) AS mix_rate
  FROM c, z
)
SELECT d.source,
       COUNT(*) AS n_kept,
       ROUND(ANY_VALUE(mix_rate), 6) AS mix_rate
FROM documents d JOIN r ON r.source = d.source
WHERE mix_rate >= 1.0
   OR substring(md5(CAST(doc_id AS VARCHAR) || 'tmix'), 1, 15)
      < printf('%015x', CAST(floor(mix_rate * 1152921504606846976.0) AS BIGINT))
GROUP BY d.source
ORDER BY d.source
"""


def _q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embeddings table (fit k=4 in one
    sufficient-stats pass: per-partition (n, sum, X^T X) partials,
    d x d driver eigh — nothing driver-side scales with rows), then
    map-only Arrow projection, aggregated per label.  The mean of each
    projected component per label exposes the class structure the
    fitted basis captured.  Rows-only check (eigendecomposition is not
    SQL-expressible); exactness vs full NumPy PCA pinned in tests/."""
    from dbt_lab_spark.llm.pca import pca_fit, pca_project

    cat = Catalog(sf_dir)
    emb = scan(spark, cat, "embeddings", ["vec_id", "embedding", "label"])
    model = pca_fit(emb, "embedding", k=4)
    proj = pca_project(emb, model, "embedding", keep_cols=("vec_id", "label"))
    return (
        proj.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg(F.element_at("proj", 1)), 4).alias("mean_pc1"),
            F.round(F.avg(F.element_at("proj", 2)), 4).alias("mean_pc2"),
            F.round(F.stddev(F.element_at("proj", 1)), 4).alias("sd_pc1"),
        )
        .orderBy("label")
    )


_PCA_POWER_ITERS = 12


def _q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component by power iteration — iterative
    linear algebra under a FULL oracle.  The fit is exactly
    _PCA_POWER_ITERS unnormalized applications of the sample
    covariance to the all-ones start (pca_power_component: one
    distributed sufficient-stats pass, driver-side d x d iterate), so
    DuckDB replays it as chained join+aggregate CTEs: pairwise-product
    sums -> covariance triples -> 12 matrix-vector CTEs -> one final
    normalize + sign canonicalization -> per-vector projection.
    Output: per-vector centered projection onto the iterate (the
    deterministic contract is the 12-step iterate itself; convergence
    to the true eigenvector is tuned by iters)."""
    from dbt_lab_spark.functions.vectors import dot
    from dbt_lab_spark.llm.pca import pca_power_component

    cat = Catalog(sf_dir)
    emb = scan(spark, cat, "embeddings", ["vec_id", "embedding"])
    model = pca_power_component(emb, "embedding", iters=_PCA_POWER_ITERS)
    w = [float(x) for x in model["component"]]
    offset = float(model["mean"] @ model["component"])  # mean . w, scalar
    v = to_double_array("embedding")
    # (x - mean) . w  ==  x . w - mean . w : one JVM fold + a literal
    return emb.select(
        "vec_id",
        (dot(v, F.array(*[F.lit(c) for c in w])) - F.lit(offset)).alias("proj"),
    )


def _sql_pca_power() -> str:
    steps = ",\n".join(
        f"p{k + 1} AS (SELECT c.i AS i, sum(c.c * p.val) AS val"
        f" FROM cov c JOIN p{k} p ON p.i = c.j GROUP BY c.i)"
        for k in range(_PCA_POWER_ITERS)
    )
    last = f"p{_PCA_POWER_ITERS}"
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), dims AS (SELECT CAST(i AS INT) AS i FROM range(1, 65) t(i)),
n AS (SELECT count(*) AS n FROM e),
u AS MATERIALIZED (
  -- one unnested (vec_id, dim, value) copy: pair sums and projections
  -- join on scalars instead of indexing lists inside wide cross joins
  -- (measured ~50x on the 8M-row pair-product stage)
  SELECT e.vec_id, d.i, e.v[d.i] AS x FROM e, dims d
),
mean AS (
  SELECT i, sum(x) / (SELECT n FROM n) AS m FROM u GROUP BY i
),
pairsum AS (
  SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS s
  FROM u a JOIN u b ON a.vec_id = b.vec_id
  GROUP BY a.i, b.i
),
cov AS MATERIALIZED (
  -- MATERIALIZED: 12 chained steps reference cov; without the hint the
  -- optimizer inlines the whole pair-sum pipeline into every step
  -- (measured ~10x)
  SELECT p.i, p.j,
         (p.s - (SELECT n FROM n) * mi.m * mj.m) / ((SELECT n FROM n) - 1) AS c
  FROM pairsum p JOIN mean mi ON mi.i = p.i JOIN mean mj ON mj.i = p.j
),
p0 AS (SELECT i, 1.0 AS val FROM dims),
{steps},
nrm AS (SELECT sqrt(sum(val * val)) AS nv FROM {last}),
sgn AS (
  SELECT CASE WHEN (SELECT val FROM {last} ORDER BY abs(val) DESC, i ASC LIMIT 1) < 0
              THEN -1.0 ELSE 1.0 END AS s
),
comp AS (
  SELECT i, (SELECT s FROM sgn) * val / (SELECT nv FROM nrm) AS w FROM {last}
)
SELECT u.vec_id,
       sum(u.x * c.w) - (SELECT sum(m.m * c2.w) FROM mean m JOIN comp c2 ON c2.i = m.i) AS proj
FROM u JOIN comp c ON c.i = u.i
GROUP BY u.vec_id
"""


def _messy_url_spark() -> F.Column:
    """Deterministic raw URL per document with deliberate mess keyed by
    doc_id % 4: default port, trailing slash, tracking params, fragment
    — every canonicalization rule gets exercised on a fixed quarter of
    the corpus."""
    mess = F.col("doc_id") % 4
    return F.concat(
        F.lit("HTTPS://WWW."),
        F.col("source"),
        F.lit(".Example.COM"),
        F.when(mess == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/"),
        F.col("lang"),
        F.lit("/Doc/"),
        F.col("doc_id").cast("string"),
        F.when(mess == 1, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&z=26&a=1"),
        F.when(mess == 2, F.lit("&fbclid=xyz")).otherwise(F.lit("")),
        F.when(mess == 3, F.lit("#sec2")).otherwise(F.lit("")),
    )


def _q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization for crawl-level dedup: raw URLs (synthesized
    deterministically per doc with default ports / trailing slashes /
    utm+fbclid params / fragments) collapse to one canonical key via
    llm/curation.py:canonicalize_url — pure JVM regexp + array
    rewrites, one narrow map stage.  Output per doc: canonical URL,
    host, registrable domain.  All 4 mess variants of a page map to
    the identical canonical form, which the oracle re-derives."""
    from dbt_lab_spark.llm.curation import canonicalize_url, registered_domain, url_host

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "lang", "source"])
    raw = docs.select("doc_id", _messy_url_spark().alias("url"))
    host = url_host("url")
    return raw.select(
        "doc_id",
        canonicalize_url("url").alias("canon_url"),
        host.alias("host"),
        registered_domain(host).alias("reg_domain"),
    )


_SQL_URL_CANONICAL = r"""
WITH raw AS (
  SELECT doc_id,
         'HTTPS://WWW.' || source || '.Example.COM'
         || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
         || '/' || lang || '/Doc/' || CAST(doc_id AS VARCHAR)
         || CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END
         || '?utm_source=feed&z=26&a=1'
         || CASE WHEN doc_id % 4 = 2 THEN '&fbclid=xyz' ELSE '' END
         || CASE WHEN doc_id % 4 = 3 THEN '#sec2' ELSE '' END AS url
  FROM documents
), parts AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(lower(regexp_extract(url, '^([^/]*//[^/?#]*)', 1)),
                          '^https:', 'http:'),
           ':(80|443)$', '') AS head,
         regexp_replace(regexp_replace(url, '^[^/]*//[^/?#]*', ''), '#.*$', '') AS rest
  FROM raw
), pq AS (
  SELECT doc_id, head,
         regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '(.)/$', '\1') AS path,
         list_sort([p FOR p IN string_split(regexp_extract(rest, '\?(.*)$', 1), '&')
                    IF p <> '' AND NOT regexp_matches(p, '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)=')]) AS params
  FROM parts
), canon AS (
  SELECT doc_id,
         head || path ||
         CASE WHEN len(params) = 0 THEN ''
              ELSE '?' || array_to_string(params, '&') END AS canon_url
  FROM pq
), hosts AS (
  SELECT doc_id, lower(regexp_extract(url, '^[^/]*//([^/?#:]*)', 1)) AS host FROM raw
)
SELECT c.doc_id, c.canon_url, h.host,
       regexp_extract(h.host, '([^.]+\.[^.]+)$', 1) AS reg_domain
FROM canon c JOIN hosts h ON h.doc_id = c.doc_id
"""


def _q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=5) over customer quasi-identifiers
    (nation, market segment, account-balance band): equivalence-class
    sizes + per-class safety flag via llm/curation.py:
    k_anonymity_classes — one hash-aggregate, map-side partials, the
    word-count scale shape.  The governance gate a dataset passes
    before rows in small classes are suppressed or generalized."""
    from dbt_lab_spark.llm.curation import k_anonymity_classes

    cat = Catalog(sf_dir)
    cust = scan(
        spark, cat, "customer", ["c_nationkey", "c_mktsegment", "c_acctbal"]
    )
    q = cust.select(
        F.col("c_nationkey").cast("int").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal").cast("double") / 2000.0).cast("int").alias("bal_band"),
    )
    return k_anonymity_classes(q, ["nation", "segment", "bal_band"], k=5)


_SQL_K_ANONYMITY = """
SELECT CAST(c_nationkey AS INT) AS nation,
       c_mktsegment AS segment,
       CAST(floor(CAST(c_acctbal AS DOUBLE) / 2000.0) AS INT) AS bal_band,
       count(*) AS n_rows,
       count(*) >= 5 AS is_safe
FROM customer
GROUP BY 1, 2, 3
"""


def _q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode/whitespace normalization over documents (NFC + control
    strip + space collapse + trim), aggregated per source: docs
    changed by cleanup and byte deltas.  Full oracle: DuckDB replays
    the stage with nfc_normalize + the same regexes."""
    from dbt_lab_spark.llm.curation import normalize_text

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text", "source"])
    normed = normalize_text(docs)
    return (
        normed.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("text_norm") != F.col("text")).cast("int")).alias("n_changed"),
            F.sum(F.length(F.col("text"))).alias("chars_in"),
            F.sum(F.length(F.col("text_norm"))).alias("chars_out"),
        )
        .orderBy("source")
    )


_SQL_NORMALIZE_TEXT = r"""
WITH n AS (
  SELECT source, text,
         trim(regexp_replace(
            regexp_replace(nfc_normalize(text), '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
            '[ \t]+', ' ', 'g'), ' ' || chr(9) || chr(10)) AS text_norm
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       SUM(CASE WHEN text_norm <> text THEN 1 ELSE 0 END) AS n_changed,
       SUM(length(text)) AS chars_in,
       SUM(length(text_norm)) AS chars_out
FROM n GROUP BY source ORDER BY source
"""


def _q_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup over document bytes (Gear-CDC,
    FastCDC family): boundaries from a 64-byte rolling fingerprint
    (high-bit mask), so shared passages chunk identically across
    documents regardless of position; dedup is then one hash-aggregate
    on chunk md5.  avg 64-byte chunks fit the short-document corpus.
    Rows-only check (rolling-fingerprint boundaries are not
    SQL-expressible); boundary math and shift-resistance pinned in
    tests/."""
    from dbt_lab_spark.llm.cdc import chunk_dedup_stats, chunk_payloads

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text"]).select(
        "doc_id", F.encode(F.coalesce("text", F.lit("")), "UTF-8").alias("payload")
    )
    chunks = chunk_payloads(docs, avg_bits=6, min_size=16, max_size=512)
    return chunk_dedup_stats(chunks).select(
        "n_chunks",
        "n_unique_chunks",
        "total_bytes",
        "unique_bytes",
        F.round("dedup_ratio", 4).alias("dedup_ratio"),
    )


def _q_exif_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time EXIF metadata extraction over the real asset mix:
    parse the APP1/TIFF structure out of JPEG payloads (header bytes
    only, no pixel decode) and aggregate per camera make.  Rows-only
    check (binary metadata parse is not SQL-expressible); the TIFF/IFD
    parser and planted-tag round trips are pinned in tests/."""
    from dbt_lab_spark.llm.multimodal import extract_exif, make_real_assets

    assets = make_real_assets(spark, n=48)
    meta = extract_exif(assets)
    return (
        meta.filter(F.col("make").isNotNull())
        .groupBy("make")
        .agg(
            F.count("*").alias("n_images"),
            F.count_distinct("model").alias("n_models"),
            F.min("orientation").alias("min_orient"),
            F.max("orientation").alias("max_orient"),
        )
        .orderBy("make")
    )


def _q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality measurement IN the engine: recall/precision of
    the literal-plane LSH near-dup pairs against the exact all-pairs
    baseline — the evaluation a pipeline runs to pick LSH parameters
    before committing to the approximate path at scale.  Both sides are
    oracle-expressible, so the metric itself carries a full oracle."""
    exact = _q_embedding_neardup(spark, sf_dir).select("id_a", "id_b")
    lsh = _q_embedding_neardup_lit(spark, sf_dir).select("id_a", "id_b")
    matched = exact.join(lsh, ["id_a", "id_b"], "left_semi")
    return (
        exact.agg(F.count("*").alias("n_exact"))
        .crossJoin(lsh.agg(F.count("*").alias("n_lsh")))
        .crossJoin(matched.agg(F.count("*").alias("n_matched")))
        .select(
            "n_exact",
            "n_lsh",
            "n_matched",
            # Empty sides are explicit NULL refusals in both engines:
            # under ANSI mode a bare /0 would THROW on a no-near-dups
            # data drop instead of degrading gracefully (ADVICE r4).
            F.round(
                F.when(
                    F.col("n_exact") > 0, F.col("n_matched") / F.col("n_exact")
                ),
                4,
            ).alias("recall"),
            F.round(
                F.when(F.col("n_lsh") > 0, F.col("n_matched") / F.col("n_lsh")), 4
            ).alias("precision"),
        )
    )


def _sql_lsh_recall() -> str:
    return f"""
WITH exact_pairs AS (SELECT id_a, id_b FROM ({_SQL_EMBEDDING_NEARDUP}) t),
     lsh_pairs AS (SELECT id_a, id_b FROM ({_sql_embedding_neardup_lit()}) t),
     m AS (SELECT COUNT(*) AS n_matched
           FROM exact_pairs e SEMI JOIN lsh_pairs l
                ON e.id_a = l.id_a AND e.id_b = l.id_b),
     ne AS (SELECT COUNT(*) AS n_exact FROM exact_pairs),
     nl AS (SELECT COUNT(*) AS n_lsh FROM lsh_pairs)
SELECT n_exact, n_lsh, n_matched,
       ROUND(CASE WHEN n_exact > 0
                  THEN CAST(n_matched AS DOUBLE) / n_exact END, 4) AS recall,
       ROUND(CASE WHEN n_lsh > 0
                  THEN CAST(n_matched AS DOUBLE) / n_lsh END, 4) AS precision
FROM ne, nl, m
"""


def _q_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval quality of the PRODUCTION MinHash path (xxhash64 —
    the fast JVM hash the engine actually deploys, not the md5 oracle
    plane) against the exact n-gram Jaccard truth, measured in-engine
    (r4, VERDICT r3 #8; mirrors q_lsh_recall).  xxhash64 is not
    reproducible in DuckDB, so the ORACLE CONTRACT is the q_approx_ndv
    tolerance-flag pattern: n_exact is recomputed exactly; the recall /
    precision of the approximate side are asserted INLINE (>= 0.9
    each; measured 1.0/1.0 at sf0.001/0.01/0.1 — 64 hashes x 16 bands
    at threshold 0.5 sits far inside the S-curve for this corpus's
    dup structure) and DuckDB expects both flags TRUE."""
    from dbt_lab_spark.llm.dedup import minhash_dedup_pairs, ngram_jaccard_all_pairs

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text"])
    exact = ngram_jaccard_all_pairs(docs, shingle_k=3, threshold=0.5).select("id_a", "id_b")
    approx = minhash_dedup_pairs(
        docs, num_hashes=64, shingle_k=3, num_bands=16, threshold=0.5
    ).select("id_a", "id_b")
    # One full-outer join + one aggregate instead of three separate
    # aggregates over `exact`/`approx`: each DataFrame reference is a
    # fresh subtree to Catalyst, so the old crossJoin-of-aggs shape
    # recomputed the expensive exact-jaccard and LSH pipelines TWICE
    # each (guide §7.2, duplicated subtrees).  Pair keys are distinct
    # on both sides (banded-LSH pairs and all-pairs output are
    # per-pair), so the join is 1:1 and the three counts are
    # unchanged.
    both = exact.withColumn("__e", F.lit(1)).join(
        approx.withColumn("__a", F.lit(1)), ["id_a", "id_b"], "full_outer"
    )
    return (
        both.agg(
            F.count("__e").alias("n_exact"),
            F.count("__a").alias("n_approx"),
            F.count(F.when(F.col("__e").isNotNull() & F.col("__a").isNotNull(), 1))
            .alias("n_matched"),
        )
        .select(
            "n_exact",
            # Vacuously true when either side is empty (ADVICE r4): on a
            # data drop with no true near-dups, an LSH false-positive pair
            # must not flip the flag the oracle hardcodes TRUE — the flag
            # measures retrieval quality, which is undefined there.
            (
                (F.col("n_exact") == 0)
                | (F.col("n_matched") >= 0.9 * F.col("n_exact"))
            ).alias("recall_ge_090"),
            # Precision is vacuous ONLY when the approx side is empty
            # (r6, ADVICE r4): with n_exact = 0 but n_approx > 0, every
            # approx pair is a false positive and the flag must be
            # allowed to go FALSE — the earlier n_exact = 0 disjunct
            # hid exactly that failure mode.
            (
                (F.col("n_approx") == 0)
                | (F.col("n_matched") >= 0.9 * F.col("n_approx"))
            ).alias("precision_ge_090"),
        )
    )


def _sql_minhash_recall() -> str:
    return f"""
SELECT COUNT(*) AS n_exact,
       TRUE AS recall_ge_090,
       TRUE AS precision_ge_090
FROM ({_SQL_NGRAM_JACCARD}) exact_pairs
"""


def _q_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval quality of the PRODUCTION SimHash path (xxhash64
    features, hamming <= 3) against the exact n-gram Jaccard truth,
    in-engine (r4, VERDICT r3 #8).  This metric EXISTS to expose an
    honest gap: a 64-bit simhash at hamming <= 3 is a stringent
    cosine proxy, not a jaccard >= 0.5 detector — measured recall
    0.60-0.75 and precision 0.36-0.88 across sf0.001/0.01/0.1 (the
    number a pipeline consults before choosing simhash over minhash
    for a dedup pass).  Same tolerance-flag oracle contract as
    q_minhash_recall, with bounds set beneath the measured floor
    (recall >= 0.4, precision >= 0.25)."""
    from dbt_lab_spark.llm.dedup import ngram_jaccard_all_pairs, simhash_dedup_pairs

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text"])
    exact = ngram_jaccard_all_pairs(docs, shingle_k=3, threshold=0.5).select("id_a", "id_b")
    approx = simhash_dedup_pairs(docs, max_hamming=3).select("id_a", "id_b")
    # Same single-pass full-outer shape as q_minhash_recall: the old
    # crossJoin-of-aggs recomputed both pair pipelines twice.
    both = exact.withColumn("__e", F.lit(1)).join(
        approx.withColumn("__a", F.lit(1)), ["id_a", "id_b"], "full_outer"
    )
    return (
        both.agg(
            F.count("__e").alias("n_exact"),
            F.count("__a").alias("n_approx"),
            F.count(F.when(F.col("__e").isNotNull() & F.col("__a").isNotNull(), 1))
            .alias("n_matched"),
        )
        .select(
            "n_exact",
            # Same conventions as q_minhash_recall (r6, ADVICE r4):
            # recall vacuous only when n_exact = 0; precision vacuous
            # only when n_approx = 0.
            (
                (F.col("n_exact") == 0)
                | (F.col("n_matched") >= 0.4 * F.col("n_exact"))
            ).alias("recall_ge_040"),
            (
                (F.col("n_approx") == 0)
                | (F.col("n_matched") >= 0.25 * F.col("n_approx"))
            ).alias("precision_ge_025"),
        )
    )


def _sql_simhash_recall() -> str:
    return f"""
SELECT COUNT(*) AS n_exact,
       TRUE AS recall_ge_040,
       TRUE AS precision_ge_025
FROM ({_SQL_NGRAM_JACCARD}) exact_pairs
"""


def _q_mp3_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 stream metadata WITHOUT audio decode (r4, VERDICT r3 #7):
    plant header-valid MPEG audio streams (frame count / bitrate /
    samplerate / ID3 title all deterministic functions of doc_id), then
    extract version, bitrate, samplerate, frame count, and the exact
    duration from the 4-byte frame headers alone — the one undecodable
    media family still yields pipeline metadata next to parse_id3v2.
    Both hops are Arrow mapInPandas stages (build -> parse), map-only.
    FULL oracle: every output column is a closed-form function of
    doc_id that DuckDB recomputes (duration_ms = n_frames*1152*1000 //
    samplerate — MPEG1 Layer 3 is 1152 samples/frame)."""
    import pandas as pd

    from dbt_lab_spark.llm.codecs import build_id3v2, build_mp3, parse_id3v2, parse_mp3_meta

    _BITRATES = [96, 128, 160, 192]
    _RATES = [44100, 32000, 48000]

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id"]).filter(F.col("doc_id") < 60)

    def _build(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            payloads = [
                build_mp3(
                    n_frames=20 + int(d) % 60,
                    bitrate_kbps=_BITRATES[int(d) % 4],
                    samplerate=_RATES[int(d) % 3],
                    id3=build_id3v2(title=f"doc-{int(d)}"),
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    assets = docs.mapInPandas(_build, "doc_id long, payload binary")

    def _extract(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                m = parse_mp3_meta(bytes(payload))
                t = parse_id3v2(bytes(payload))
                rows.append(
                    (
                        int(did),
                        t.get("title"),
                        m["bitrate_kbps"],
                        m["samplerate"],
                        m["n_frames"],
                        m["duration_ms"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "title", "bitrate_kbps", "samplerate",
                    "n_frames", "duration_ms",
                ],
            )

    out_schema = (
        "doc_id long, title string, bitrate_kbps int, samplerate int, "
        "n_frames int, duration_ms long"
    )
    return assets.mapInPandas(_extract, out_schema).orderBy("doc_id")


_SQL_MP3_META = """
SELECT doc_id,
       'doc-' || CAST(doc_id AS VARCHAR) AS title,
       CASE doc_id % 4 WHEN 0 THEN 96 WHEN 1 THEN 128
                       WHEN 2 THEN 160 ELSE 192 END AS bitrate_kbps,
       CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 32000
                       ELSE 48000 END AS samplerate,
       20 + doc_id % 60 AS n_frames,
       ((20 + doc_id % 60) * 1152 * 1000)
         // (CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 32000
                             ELSE 48000 END) AS duration_ms
FROM documents
WHERE doc_id < 60
ORDER BY doc_id
"""


_DOC_EMBED_DIM = 16


def _q_doc_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free hashed document embeddings (random indexing: md5
    sign bits summed per doc) rolled up per source: doc counts, mean
    L2 norm, and the exact integer sum of the first component.  Full
    oracle: component sums are integers on the md5 plane, so DuckDB
    recomputes them bit-for-bit."""
    from dbt_lab_spark.llm.classifier import hashed_doc_embedding

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text", "source"])
    emb = hashed_doc_embedding(docs, dim=_DOC_EMBED_DIM)
    norm = F.sqrt(
        F.aggregate("emb", F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return (
        emb.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg(norm), 4).alias("avg_norm"),
            F.sum(F.element_at("emb", 1)).cast("long").alias("sum_e0"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("source")
    )


def _sql_doc_embed() -> str:
    hex_to_int = " + ".join(
        f"(strpos('0123456789abcdef', m[{i}:{i}]) - 1) * {16 ** (15 - i)}"
        for i in range(1, 16)
    )
    comp = ", ".join(
        f"SUM(((h // {1 << d}) % 2) * 2 - 1) AS e{d}" for d in range(_DOC_EMBED_DIM)
    )
    sq = " + ".join(f"e{d} * e{d}" for d in range(_DOC_EMBED_DIM))
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
), hx AS (
  SELECT doc_id, md5(tok) AS m FROM toks
), hv AS (
  SELECT doc_id, ({hex_to_int}) AS h FROM hx
), emb AS (
  SELECT doc_id, {comp}, COUNT(*) AS n_tokens FROM hv GROUP BY doc_id
)
SELECT d.source,
       COUNT(*) AS n_docs,
       ROUND(AVG(sqrt(CAST({sq} AS DOUBLE))), 4) AS avg_norm,
       SUM(e0) AS sum_e0,
       SUM(n_tokens) AS total_tokens
FROM emb JOIN documents d USING (doc_id)
GROUP BY d.source ORDER BY d.source
"""


_PQ_STATS_COLS = ["l_linenumber", "l_orderkey", "l_partkey", "l_suppkey"]


def _q_parquet_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet footer introspection (sources.parquet_rowgroup_stats):
    roll the per-row-group min/max/null statistics of lineitem's key
    columns up to file level.  The oracle recomputes the SAME numbers
    from the DATA (COUNT/MIN/MAX per column) — equality proves the
    footers' statistics are faithful, exactly the invariant pruning
    relies on.  Footers only: the Spark side never reads a data page."""
    from dbt_lab_spark.sources import parquet_rowgroup_stats

    stats = parquet_rowgroup_stats(spark, f"{sf_dir}/lineitem.parquet")
    return (
        stats.filter(F.col("column").isin(_PQ_STATS_COLS))
        .groupBy("column")
        .agg(
            F.sum("num_rows").alias("total_rows"),
            F.sum("null_count").alias("total_nulls"),
            F.min(F.col("min_value").cast("long")).alias("min_val"),
            F.max(F.col("max_value").cast("long")).alias("max_val"),
        )
        .orderBy("column")
    )


def _sql_parquet_stats() -> str:
    parts = [
        f"""SELECT '{c}' AS "column", COUNT(*) AS total_rows,
       COUNT(*) - COUNT({c}) AS total_nulls,
       CAST(MIN({c}) AS BIGINT) AS min_val, CAST(MAX({c}) AS BIGINT) AS max_val
FROM lineitem"""
        for c in _PQ_STATS_COLS
    ]
    return " UNION ALL ".join(parts) + ' ORDER BY "column"'


_EWMA_ALPHA = 0.5


def _q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values (alpha=0.5, adjust=False): the
    recursive per-key scan window functions can't express, implemented
    as one applyInPandas fold per user.  The oracle recomputes every
    user's final EWMA with the closed form
    e_T = (1-a)^(T-1) x_1 + a * sum_{i>1} (1-a)^(T-i) x_i — a
    DIFFERENT summation order, so agreement (at 4 decimals) checks the
    recurrence itself, not just the plumbing.  Ties in ts are broken
    by event_id on both sides."""
    from dbt_lab_spark.streaming.stateful import ewma_by_key

    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["user_id", "event_id", "ts", "value"]).filter(
        F.col("user_id") < 50  # key predicate BELOW the fold: prunes at the scan
    )
    out = ewma_by_key(ev, "user_id", ["ts", "event_id"], "value", alpha=_EWMA_ALPHA)
    return out.select(
        "user_id", F.round("last_ewma", 4).alias("last_ewma"), "n_events"
    ).orderBy("user_id")


_SQL_EWMA = f"""
WITH ordered AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events WHERE user_id < 50
)
SELECT user_id,
       ROUND(SUM(CASE WHEN rn = 1 THEN power(1 - {_EWMA_ALPHA}, n - 1) * value
                      ELSE {_EWMA_ALPHA} * power(1 - {_EWMA_ALPHA}, n - rn) * value END),
             4) AS last_ewma,
       COUNT(*) AS n_events
FROM ordered GROUP BY user_id ORDER BY user_id
"""


def _q_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN end-to-end (the FAISS IVF-PQ shape):
    train (m=8, ks=32) codebooks by sufficient-stats k-means, encode
    the corpus to 8 small codes per vector, ADC-score with broadcast
    distance tables (m table lookups per row — no float vectors read),
    take a 50-shortlist, refine with exact cosine to top-10.
    Rows-only check (k-means training is iterative); ADC's table-sum
    identity and recall >= 0.8 vs brute force are pinned in tests/."""
    from dbt_lab_spark.llm.pq import pq_adc_knn, pq_encode, pq_refine, pq_train

    cat = Catalog(sf_dir)
    emb = scan(spark, cat, "embeddings", ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    corpus = emb.filter(F.col("vec_id") >= 5)
    cb = pq_train(corpus, m=8, ks=32, iters=6)
    codes = pq_encode(corpus, cb)
    shortlist = pq_adc_knn(codes, queries, cb, k=50)
    top = pq_refine(shortlist, corpus, queries, k=10)
    return top.select(
        "query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank"
    ).orderBy("query_id", "rank")


def _q_compress_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-compressibility quality scan (the Dolma/RefinedWeb
    heuristic): per-source mean deflate ratio plus the count under the
    0.3 boilerplate threshold.  One stateless Arrow stage (zlib level
    6, deterministic) + one aggregate.  Rows-only check (SQL has no
    deflate); the ratio is pinned byte-exact against zlib in tests/."""
    from dbt_lab_spark.llm.curation import compression_ratio

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text", "source"])
    scored = compression_ratio(docs)
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("compress_ratio"), 4).alias("avg_ratio"),
            F.sum((F.col("compress_ratio") < 0.3).cast("int")).alias("n_boilerplate"),
        )
        .orderBy("source")
    )


def _q_neg_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair construction: 4 deterministic hash-ranked
    negatives per anchor (vec_id < 5), excluding the anchor itself and
    its exact cosine>=0.4 near-duplicates — the reproducible
    negative-sampling step of an embedding-training data build.
    Full oracle: the md5 draw, exclusion, and ranking replay in SQL."""
    from dbt_lab_spark.llm.sampling import contrastive_negatives

    cat = Catalog(sf_dir)
    emb = scan(spark, cat, "embeddings", ["vec_id", "embedding"])
    anchors = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("anchor_id"))
    pairs = _q_embedding_neardup(spark, sf_dir).select("id_a", "id_b")
    exclude = pairs.select(
        F.col("id_a").alias("anchor_id"), F.col("id_b").alias("negative_id")
    ).union(
        pairs.select(F.col("id_b").alias("anchor_id"), F.col("id_a").alias("negative_id"))
    )
    return contrastive_negatives(anchors, emb, k=4, exclude=exclude).orderBy(
        "anchor_id", "neg_rank"
    )


def _sql_neg_sample() -> str:
    return f"""
WITH pairs AS (SELECT id_a, id_b FROM ({_SQL_EMBEDDING_NEARDUP}) t),
excl AS (
  SELECT id_a AS anchor_id, id_b AS negative_id FROM pairs
  UNION ALL
  SELECT id_b AS anchor_id, id_a AS negative_id FROM pairs
), cand AS (
  SELECT a.vec_id AS anchor_id, c.vec_id AS negative_id,
         substring(md5(CAST(a.vec_id AS VARCHAR) || '|' ||
                       CAST(c.vec_id AS VARCHAR) || 'neg'), 1, 15) AS draw
  FROM (SELECT vec_id FROM embeddings WHERE vec_id < 5) a
  CROSS JOIN embeddings c
  WHERE a.vec_id <> c.vec_id
    AND NOT EXISTS (SELECT 1 FROM excl e
                    WHERE e.anchor_id = a.vec_id AND e.negative_id = c.vec_id)
), ranked AS (
  SELECT anchor_id, negative_id,
         ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY draw, negative_id) AS neg_rank
  FROM cand
)
SELECT anchor_id, negative_id, neg_rank FROM ranked WHERE neg_rank <= 4
ORDER BY anchor_id, neg_rank
"""


def _q_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling: MJPEG streams (concatenated JPEG
    frames, the webcam/IP-camera wire format) split at SOI/EOI marker
    boundaries, every 2nd frame entropy-decoded and featurized — the
    skipped frames are never decoded, which is the economics of the
    operator.  Rows-only check (marker-scan + JPEG decode is not
    SQL-expressible); frame splitting and sampled-vs-full decode
    equality are pinned in tests/."""
    from dbt_lab_spark.llm.multimodal import make_video_assets, sample_video_frames

    assets = make_video_assets(spark, n=12)
    frames = sample_video_frames(assets, every_n=2)
    return (
        frames.groupBy("asset_id")
        .agg(
            F.first("n_frames").alias("n_frames"),
            F.count("*").alias("n_sampled"),
            F.round(F.sum(F.element_at("feature", 1)), 4).alias("sum_f0"),
        )
        .orderBy("asset_id")
    )


_BM25_TERMS = ["hash", "join", "vector"]


def _q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval for a literal query over documents:
    top 10 by score (ties broken by doc_id).  tf / df / doc-length /
    avgdl all computed distributed, idf and corpus stats broadcast.
    Full oracle: DuckDB evaluates the identical scoring formula."""
    from dbt_lab_spark.functions.text import bm25_scores

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text"])
    return (
        bm25_scores(docs, _BM25_TERMS)
        .select("doc_id", F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(10)
    )


def _sql_bm25() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
), dl AS (
  SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf FROM toks
  WHERE tok IN ({terms}) GROUP BY doc_id, tok
), idf AS (
  SELECT tok, ln((stats.n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf
  FROM (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok), stats
), scored AS (
  SELECT tf.doc_id,
         SUM(idf.idf * (tf.tf * (1.2 + 1)) /
             (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))) AS score
  FROM tf
  JOIN idf ON idf.tok = tf.tok
  JOIN dl ON dl.doc_id = tf.doc_id, stats
  GROUP BY tf.doc_id
)
SELECT doc_id, ROUND(score, 4) AS score FROM scored
ORDER BY score DESC, doc_id LIMIT 10
"""


_PAGERANK_ITERS = 5


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the trade graph (customer nation ->
    supplier nation, edge weight = lineitem count): the
    quality-weighting propagation a web-curation pipeline runs on its
    link graph, exercised on the star schema's natural graph.

    Edge extraction is the distributed-heavy part (fact-fact join on
    orderkey + two broadcast dims); each power iteration is a
    shuffle-on-edge-key join + aggregate — the plan shape that scales
    to billion-node graphs.  Full oracle: DuckDB runs the identical
    recurrence unrolled as CTEs (same damping, dangling handling, and
    iteration count)."""
    from dbt_lab_spark.functions.graph import pagerank

    cat = Catalog(sf_dir)
    li = scan(spark, cat, "lineitem", ["l_orderkey", "l_suppkey"])
    orders = scan(spark, cat, "orders", ["o_orderkey", "o_custkey"])
    cust = scan(spark, cat, "customer", ["c_custkey", "c_nationkey"])
    supp = scan(spark, cat, "supplier", ["s_suppkey", "s_nationkey"])
    nation = scan(spark, cat, "nation", ["n_nationkey", "n_name"])
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").cast("double").alias("w"))
    )
    ranks = pagerank(edges, iters=_PAGERANK_ITERS, weight="w")
    return (
        ranks.join(F.broadcast(nation), ranks.node == nation.n_nationkey)
        .select("n_name", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), "n_name")
    )


def _sql_pagerank() -> str:
    d = 0.85
    parts = [
        r"""
WITH edges AS MATERIALIZED (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
), nodes AS MATERIALIZED (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
), nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
norm AS MATERIALIZED (
  SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS p FROM edges
), r0 AS MATERIALIZED (
  SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes
)"""
    ]
    for k in range(_PAGERANK_ITERS):
        parts.append(
            f""", d{k} AS (
  SELECT COALESCE(SUM(rank), 0) AS dm FROM r{k}
  WHERE node NOT IN (SELECT src FROM norm)
), r{k + 1} AS MATERIALIZED (
  SELECT nodes.node,
         (1 - {d}) / (SELECT n FROM nn)
         + {d} * (COALESCE(f.inflow, 0) + (SELECT dm FROM d{k}) / (SELECT n FROM nn)) AS rank
  FROM nodes LEFT JOIN (
    SELECT norm.dst, SUM(norm.p * r{k}.rank) AS inflow
    FROM norm JOIN r{k} ON r{k}.node = norm.src GROUP BY norm.dst
  ) f ON f.dst = nodes.node
)"""
        )
    parts.append(
        f"""
SELECT n_name, ROUND(rank, 6) AS rank
FROM r{_PAGERANK_ITERS} JOIN nation ON n_nationkey = node
ORDER BY rank DESC, n_name
"""
    )
    return "".join(parts)


_SQL_WARC_INGEST = r"""
SELECT source,
       COUNT(*) AS n_records,
       SUM(strlen(COALESCE(text, ''))) AS total_payload_bytes,
       COUNT(DISTINCT 'https://corpus.example/' || source || '/' || doc_id) AS n_uris
FROM documents
GROUP BY source
ORDER BY source
"""


BEYOND_QUERIES: list[QueryDef] = [
    QueryDef("q_warc_ingest", _q_warc_ingest, _SQL_WARC_INGEST, "WARC shard build+parse round-trip"),
    QueryDef("q_hash_features", _q_hash_features, _sql_hash_features(), "hashing-trick features (md5 plane)"),
    QueryDef("q_classifier_train", _q_classifier_train, None, "distributed logreg language filter"),
    QueryDef(
        "q_logreg_step", _q_logreg_step, _sql_logreg_step(),
        "oracle-checkable first logreg gradient step",
    ),
    QueryDef("q_pagerank", _q_pagerank, _sql_pagerank(), "weighted PageRank on the trade graph"),
    QueryDef("q_bm25", _q_bm25, _sql_bm25(), "Okapi BM25 ranked retrieval top-10"),
    QueryDef("q_webdataset", _q_webdataset, _SQL_WEBDATASET, "WebDataset tar shard round-trip"),
    QueryDef("q_temperature_mix", _q_temperature_mix, _SQL_TEMPERATURE_MIX, "temperature mixture sampling"),
    QueryDef("q_pca_project", _q_pca_project, None, "distributed PCA fit+project"),
    QueryDef("q_normalize_text", _q_normalize_text, _SQL_NORMALIZE_TEXT, "NFC+whitespace normalization"),
    QueryDef("q_cdc_dedup", _q_cdc_dedup, None, "content-defined chunk dedup (Gear-CDC)"),
    QueryDef("q_exif_meta", _q_exif_meta, None, "EXIF metadata extraction per camera"),
    QueryDef("q_mp3_meta", _q_mp3_meta, _SQL_MP3_META, "MP3 frame-header metadata, no decode"),
    QueryDef("q_lsh_recall", _q_lsh_recall, _sql_lsh_recall(), "LSH recall/precision vs exact pairs"),
    QueryDef(
        "q_minhash_recall", _q_minhash_recall, _sql_minhash_recall(),
        "production minhash-xxhash recall/precision flags",
    ),
    QueryDef(
        "q_simhash_recall", _q_simhash_recall, _sql_simhash_recall(),
        "production simhash recall/precision flags",
    ),
    QueryDef("q_doc_embed", _q_doc_embed, _sql_doc_embed(), "hashed random-indexing doc embeddings"),
    QueryDef("q_parquet_stats", _q_parquet_stats, _sql_parquet_stats(), "footer stats vs data invariant"),
    QueryDef("q_ewma", _q_ewma, _SQL_EWMA, "per-user EWMA (recursive scan vs closed form)"),
    QueryDef("q_pq_ann", _q_pq_ann, None, "product-quantization ANN + exact refine"),
    QueryDef("q_compress_ratio", _q_compress_ratio, None, "gzip-compressibility quality scan"),
    QueryDef("q_neg_sample", _q_neg_sample, _sql_neg_sample(), "deterministic contrastive negatives"),
    QueryDef("q_mjpeg_frames", _q_mjpeg_frames, None, "real MJPEG frame sampling + decode"),
    QueryDef("q_tumbling_window", _q_tumbling_window, _SQL_TUMBLING_WINDOW, "1h tumbling agg"),
    QueryDef("q_sessionize", _q_sessionize, _SQL_SESSIONIZE, "30-min-gap sessions"),
    QueryDef("q_sliding_window", _q_sliding_window, _SQL_SLIDING_WINDOW, "1h/15m sliding agg"),
    QueryDef("q_json_extract", _q_json_extract, _SQL_JSON_EXTRACT, "JSON field extraction"),
    QueryDef("q_session_window", _q_session_window, _SQL_SESSION_WINDOW, "session_window op"),
    QueryDef("q_asof_join", _q_asof_join, _SQL_ASOF_JOIN, "backward as-of join"),
    QueryDef("q_range_join", _q_range_join, _SQL_RANGE_JOIN, "banded interval join"),
    QueryDef("q_text_stats", _q_text_stats, _SQL_TEXT_STATS, "token/char stats"),
    QueryDef("q_lm_quality", _q_lm_quality, _SQL_LM_QUALITY, "unigram-LM perplexity proxy"),
    QueryDef("q_kl_drift", _q_kl_drift, _SQL_KL_DRIFT, "per-source token KL drift"),
    QueryDef("q_semantic_dedup", _q_semantic_dedup, None, "SemDeDup k-means cosine dedup"),
    QueryDef("q_lang_quality", _q_lang_quality, _SQL_LANG_QUALITY, "lang-id + quality score"),
    QueryDef("q_dedup_exact", _q_dedup_exact, _SQL_DEDUP_EXACT, "exact dedup groups"),
    QueryDef("q_dedup_keep", _q_dedup_keep, _SQL_DEDUP_KEEP, "exact dedup keep-set"),
    QueryDef("q_minhash_pairs", _q_minhash_pairs, None, "minhash LSH near-dup"),
    QueryDef("q_minhash_dedup_apply", _q_minhash_dedup_apply, None, "CC cluster dedup"),
    QueryDef("q_simhash_pairs", _q_simhash_pairs, None, "simhash near-dup"),
    QueryDef("q_ngram_jaccard", _q_ngram_jaccard, _SQL_NGRAM_JACCARD, "exact n-gram jaccard"),
    QueryDef(
        "q_rolling_fingerprint",
        _q_rolling_fingerprint,
        _SQL_ROLLING_FINGERPRINT,
        "Rabin-Karp rolling hash",
    ),
    QueryDef("q_winnow", _q_winnow, _SQL_WINNOW, "winnowed fingerprint sets"),
    QueryDef("q_quantize_int8", _q_quantize_int8, _SQL_QUANTIZE_INT8, "int8 quantization audit"),
    QueryDef("q_array_functions", _q_array_functions, _SQL_ARRAY_FUNCTIONS, "array surface"),
    QueryDef("q_regex_functions", _q_regex_functions, _SQL_REGEX_FUNCTIONS, "regex surface"),
    QueryDef("q_text_chunks", _q_text_chunks, _SQL_TEXT_CHUNKS, "RAG chunking windows"),
    QueryDef(
        "q_percentile_disc", _q_percentile_disc, _SQL_PERCENTILE_DISC, "exact PERCENTILE_DISC"
    ),
    QueryDef("q_map_functions", _q_map_functions, _SQL_MAP_FUNCTIONS, "map-typed surface"),
    QueryDef("q_knn_bruteforce", _q_knn_bruteforce, _SQL_KNN_BRUTEFORCE, "exact cosine top-k"),
    QueryDef("q_knn_lsh", _q_knn_lsh, None, "LSH approximate top-k"),
    QueryDef("q_knn_ivf", _q_knn_ivf, None, "IVF approximate top-k"),
    QueryDef(
        "q_embedding_neardup", _q_embedding_neardup, _SQL_EMBEDDING_NEARDUP, "exact cosine pairs"
    ),
    QueryDef(
        "q_embedding_neardup_lsh", _q_embedding_neardup_lsh, None, "LSH cosine pairs"
    ),
    QueryDef(
        "q_minhash_md5", _q_minhash_md5, _sql_minhash_md5(),
        "oracle-checkable md5 minhash+LSH banding",
    ),
    QueryDef(
        "q_simhash_md5", _q_simhash_md5, _sql_simhash_md5(),
        "oracle-checkable md5 simhash band join",
    ),
    QueryDef(
        "q_dedup_apply_md5", _q_dedup_apply_md5, _sql_dedup_apply_md5(),
        "oracle-checkable end-to-end minhash dedup (pairs -> CC -> keep)",
    ),
    QueryDef(
        "q_embedding_neardup_lit", _q_embedding_neardup_lit, _sql_embedding_neardup_lit(),
        "oracle-checkable literal-plane LSH cosine pairs",
    ),
    QueryDef(
        "q_knn_lit", _q_knn_lit, _sql_knn_lit(),
        "oracle-checkable literal-plane LSH top-k",
    ),
    QueryDef(
        "q_knn_ivf_seeded", _q_knn_ivf_seeded, _sql_knn_ivf_seeded(),
        "oracle-checkable seeded-centroid IVF top-k",
    ),
    QueryDef(
        "q_pq_adc_seeded", _q_pq_adc_seeded, _sql_pq_adc_seeded(),
        "oracle-checkable seeded-codebook PQ ADC top-k",
    ),
    QueryDef(
        "q_pca_power", _q_pca_power, _sql_pca_power(),
        "oracle-checkable power-iteration PCA projection",
    ),
    QueryDef(
        "q_url_canonical", _q_url_canonical, _SQL_URL_CANONICAL,
        "crawl-dedup URL canonicalization",
    ),
    QueryDef("q_auc_eval", _q_auc_eval, _SQL_AUC_EVAL, "sort-free Mann-Whitney ROC-AUC"),
    QueryDef("q_calibration", _q_calibration, _SQL_CALIBRATION, "reliability-diagram bins"),
    QueryDef("q_kappa", _q_kappa, _SQL_KAPPA, "Cohen's kappa labeler agreement"),
    QueryDef("q_chi2", _q_chi2, _SQL_CHI2, "chi-square independence, zero-filled grid"),
    QueryDef("q_ab_test", _q_ab_test, _SQL_AB_TEST, "Welch two-arm t-test"),
    QueryDef("q_survival", _q_survival, _SQL_SURVIVAL, "Kaplan-Meier survival curve"),
    QueryDef("q_seasonal", _q_seasonal, _SQL_SEASONAL, "additive seasonal decomposition"),
    QueryDef("q_copurchase", _q_copurchase, _SQL_COPURCHASE, "frequent 2-itemset baskets"),
    QueryDef("q_rfm", _q_rfm, _SQL_RFM, "RFM quintile segmentation"),
    QueryDef("q_forecast_eval", _q_forecast_eval, _SQL_FORECAST_EVAL, "forecast baselines MAE/MAPE"),
    QueryDef(
        "q_fulfillment_latency", _q_fulfillment_latency, _SQL_FULFILLMENT_LATENCY,
        "order-to-ship latency SLA rollup",
    ),
    QueryDef("q_anova", _q_anova, _SQL_ANOVA, "one-way ANOVA F"),
    QueryDef("q_mann_kendall", _q_mann_kendall, _SQL_MANN_KENDALL, "Mann-Kendall trend test"),
    QueryDef("q_holt", _q_holt, _SQL_HOLT, "Holt level+trend smoothing"),
    QueryDef("q_trimmed_mean", _q_trimmed_mean, _SQL_TRIMMED_MEAN, "10% trimmed mean"),
    QueryDef("q_entropy", _q_entropy, _SQL_ENTROPY, "language-mix entropy per source"),
    QueryDef("q_spearman", _q_spearman, _SQL_SPEARMAN, "Spearman rank correlation"),
    QueryDef("q_abc_pareto", _q_abc_pareto, _SQL_ABC_PARETO, "ABC Pareto revenue classes"),
    QueryDef("q_assoc_rules", _q_assoc_rules, _SQL_ASSOC_RULES, "association rules conf/lift"),
    QueryDef("q_item_sim", _q_item_sim, _SQL_ITEM_SIM, "item-item CF cosine top-3"),
    QueryDef("q_attribution", _q_attribution, _SQL_ATTRIBUTION, "multi-touch attribution"),
    QueryDef("q_cusum", _q_cusum, _SQL_CUSUM, "CUSUM changepoint estimate"),
    QueryDef("q_npy_ingest", _q_npy_ingest, _SQL_VECTOR_ROUNDTRIP, ".npy shard round trip"),
    QueryDef(
        "q_arrow_ipc_ingest", _q_arrow_ipc_ingest, _SQL_VECTOR_ROUNDTRIP,
        "Arrow IPC stream shard round trip",
    ),
    QueryDef(
        "q_safetensors_ingest", _q_safetensors_ingest, _SQL_VECTOR_ROUNDTRIP,
        "safetensors shard round trip",
    ),
    QueryDef(
        "q_k_anonymity", _q_k_anonymity, _SQL_K_ANONYMITY,
        "k-anonymity equivalence-class audit",
    ),
    QueryDef(
        "q_semantic_dedup_seeded", _q_semantic_dedup_seeded, _sql_semantic_dedup_seeded(),
        "oracle-checkable seeded-cluster SemDeDup pairs",
    ),
    QueryDef("q_word_count", _q_word_count, _SQL_WORD_COUNT, "explode/lateral top-20 tokens"),
    QueryDef("q_bigrams", _q_bigrams, _SQL_BIGRAMS, "array HOF bigram counts"),
    QueryDef("q_seq_match", _q_seq_match, _SQL_SEQ_MATCH, "regex sequence pattern per user"),
    QueryDef("q_heavy_hitters", _q_heavy_hitters, _SQL_HEAVY_HITTERS, "CMS-pruned heavy hitters"),
    QueryDef("q_corpus_prep", _q_corpus_prep, _sql_corpus_prep(), "e2e corpus prep pipeline"),
    QueryDef("q_gap_fill", _q_gap_fill, _SQL_GAP_FILL, "LOCF forward fill"),
    QueryDef(
        "q_lineitem_partitioned", _q_lineitem_partitioned, _SQL_LINEITEM_PARTITIONED,
        "partition-pruned multi-file scan",
    ),
    QueryDef("q_window_suite", _q_window_suite, _SQL_WINDOW_SUITE, "8 window fns, one Window"),
    QueryDef("q_mode", _q_mode, _SQL_MODE, "deterministic per-group mode"),
    QueryDef("q_kfold", _q_kfold, _sql_kfold(), "5-fold CV assignment"),
    QueryDef(
        "q_datetime_functions", _q_datetime_functions, _SQL_DATETIME_FUNCTIONS, "date/time surface"
    ),
    QueryDef(
        "q_string_functions", _q_string_functions, _SQL_STRING_FUNCTIONS, "string/null surface"
    ),
    QueryDef(
        "q_try_arithmetic", _q_try_arithmetic, _SQL_TRY_ARITHMETIC, "ANSI-safe try_divide"
    ),
    QueryDef("q_fuzzy_pairs", _q_fuzzy_pairs, _SQL_FUZZY_PAIRS, "blocked levenshtein pairs"),
    QueryDef("q_tfidf", _q_tfidf, _SQL_TFIDF, "TF-IDF top-3 terms per doc"),
    QueryDef("q_funnel", _q_funnel, _SQL_FUNNEL, "one-pass conversion funnel"),
    QueryDef("q_transitions", _q_transitions, _SQL_TRANSITIONS, "event-type transition counts"),
    QueryDef(
        "q_time_range_frame", _q_time_range_frame, _SQL_TIME_RANGE_FRAME, "trailing 1h RANGE frame"
    ),
    QueryDef("q_argmax", _q_argmax, _SQL_ARGMAX, "arg-max via struct ordering"),
    QueryDef("q_vector_norms", _q_vector_norms, _SQL_VECTOR_NORMS, "per-label embedding norms"),
    QueryDef(
        "q_approx_ndv", _q_approx_ndv, _SQL_APPROX_NDV,
        "HLL approx distinct users (tolerance-flag oracle)",
    ),
    QueryDef("q_hash_sample", _q_hash_sample, _SQL_HASH_SAMPLE, "deterministic 10% sample"),
    QueryDef(
        "q_stratified_sample",
        _q_stratified_sample,
        _SQL_STRATIFIED_SAMPLE,
        "per-language deterministic sample",
    ),
    QueryDef(
        "q_train_test_split", _q_train_test_split, _SQL_TRAIN_TEST_SPLIT, "90/10 split by hash"
    ),
    QueryDef("q_multimodal_features", _q_multimodal_features, None, "mapInPandas features"),
    QueryDef(
        "q_multimodal_real_decode",
        _q_multimodal_real_decode,
        None,
        "real BMP/PPM/WAV decode via codecs.py",
    ),
    QueryDef("q_frame_sample", _q_frame_sample, None, "video frame sampling"),
    QueryDef("q_bpe_tokens", _q_bpe_tokens, None, "BPE train+encode compression per source"),
    QueryDef("q_dup_spans", _q_dup_spans, _SQL_DUP_SPANS, "cross-doc duplicated token spans"),
    QueryDef("q_trigram_lm", _q_trigram_lm, _SQL_TRIGRAM_LM, "interpolated trigram-LM scores"),
    QueryDef("q_image_resize", _q_image_resize, None, "decode+crop+bilinear resize+re-encode"),
    QueryDef("q_audio_spectrogram", _q_audio_spectrogram, None, "STFT band energies over WAV"),
    QueryDef("q_pii_redact", _q_pii_redact, _sql_pii_redact(), "PII redaction audit"),
    QueryDef("q_repetition", _q_repetition, _SQL_REPETITION, "Gopher repetition stats"),
    QueryDef(
        "q_decontaminate", _q_decontaminate, _SQL_DECONTAMINATE, "8-gram eval decontamination"
    ),
    QueryDef("q_mix_epochs", _q_mix_epochs, _sql_mix_epochs(), "epoch-weighted domain mix"),
    QueryDef(
        "q_pack_sequences", _q_pack_sequences, _SQL_PACK_SEQUENCES, "2048-token sequence packing"
    ),
    QueryDef(
        "q_quality_filter", _q_quality_filter, _SQL_QUALITY_FILTER, "p25 quality threshold filter"
    ),
    QueryDef("q_source_cap", _q_source_cap, _SQL_SOURCE_CAP, "per-source doc cap (hash order)"),
    QueryDef(
        "q_incremental_dedup",
        _q_incremental_dedup,
        _SQL_INCREMENTAL_DEDUP,
        "new-batch dedup vs corpus fingerprints",
    ),
    QueryDef("q_retention", _q_retention, _SQL_RETENTION, "weekly cohort retention"),
    QueryDef("q_profile", _q_profile, _SQL_PROFILE, "per-column profiling (null/NDV)"),
    QueryDef(
        "q_zscore_outliers", _q_zscore_outliers, _SQL_ZSCORE_OUTLIERS, "3-sigma outlier counts"
    ),
    QueryDef(
        "q_curation_pipeline",
        _q_curation_pipeline,
        _sql_curation_pipeline(),
        "e2e curation: gate/dedup/redact/cap",
    ),
    QueryDef("q_debounce", _q_debounce, _SQL_DEBOUNCE, "1s lag-based event debounce"),
    QueryDef(
        "q_share_of_total", _q_share_of_total, _SQL_SHARE_OF_TOTAL, "revenue share per nation"
    ),
]
