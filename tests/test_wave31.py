"""r5 pins: containment skew cap (VERDICT r4 #3), recall-flag vacuous
truth on dup-free corpora (ADVICE r4), bowley/moving-range divide
guards (ADVICE r4)."""

from __future__ import annotations

import pyspark.sql.functions as F


def _pairs(df):
    return {
        (r["id_a"], r["id_b"]): (
            round(r["containment_a_in_b"], 6),
            round(r["containment_b_in_a"], 6),
        )
        for r in df.collect()
    }


def test_containment_cap_is_exact_on_corpus(spark, sf_small):
    """The q_containment skew cap (max_doc_freq=64 + exact re-verify)
    must return EXACTLY the uncapped result on the test corpus — the
    pp-join-style equality proof VERDICT r4 #3 asked for."""
    from dbt_lab_spark.catalog import Catalog
    from dbt_lab_spark.llm.dedup import containment_all_pairs
    from dbt_lab_spark.operators.scan import scan

    docs = scan(spark, Catalog(sf_small), "documents", ["doc_id", "text"])
    capped = _pairs(containment_all_pairs(docs, threshold=0.6, max_doc_freq=64))
    uncapped = _pairs(containment_all_pairs(docs, threshold=0.6, max_doc_freq=None))
    assert capped == uncapped
    assert len(uncapped) > 0  # non-vacuous: the corpus has containment pairs


def test_containment_cap_bounds_candidates_under_boilerplate(spark):
    """On a planted boilerplate corpus (one hot shingle in every doc),
    the cap removes the hot shingle from the INVERTED INDEX (candidate
    generation) while the re-verify still counts it toward the reported
    containment — values stay exact, candidate emission stops being
    quadratic in corpus size."""
    from dbt_lab_spark.llm.dedup import containment_all_pairs

    boiler = "click here to subscribe"  # 3-shingles shared by ALL docs
    rows = [(i, f"{boiler} unique{i} text{i} body{i} words{i}") for i in range(50)]
    # two true near-dups sharing their unique content too
    rows.append((100, "click here to subscribe unique7 text7 body7 words7 extra"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = _pairs(containment_all_pairs(docs, threshold=0.6, max_doc_freq=10))
    uncapped = _pairs(containment_all_pairs(docs, threshold=0.6, max_doc_freq=None))
    assert capped == uncapped
    assert (7, 100) in capped  # the true pair survives, exact values
    # hot shingles must not generate the quadratic candidate set: doc 0
    # shares ONLY boilerplate with doc 1, so containment < 0.6 anyway —
    # but the capped index never even emits those candidates.  Proxy
    # assertion: results contain only the planted pair.
    assert set(capped) == {(7, 100)}


def test_recall_flags_vacuous_on_dup_free_corpus(spark, monkeypatch, tmp_path):
    """ADVICE r4: on a data drop with NO true near-dups, the recall /
    precision flags must be vacuously TRUE (matching the hardcoded
    oracle) even if the LSH plane emits a false-positive pair."""
    from dbt_lab_spark.llm import dedup as dd

    # dup-free corpus: every doc entirely distinct vocabulary
    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(12))) for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    exact = dd.ngram_jaccard_all_pairs(docs, shingle_k=3, threshold=0.5)
    assert exact.count() == 0  # genuinely dup-free

    # simulate an approximate plane that DOES emit a false positive
    import dbt_lab_spark.workload_beyond as wb

    fp = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    monkeypatch.setattr(
        dd, "minhash_dedup_pairs", lambda *a, **k: fp
    )
    monkeypatch.setattr(dd, "ngram_jaccard_all_pairs", lambda *a, **k: exact)

    # run the flag arithmetic exactly as _q_minhash_recall does
    approx = fp.select("id_a", "id_b")
    ex = exact.select("id_a", "id_b")
    matched = ex.join(approx, ["id_a", "id_b"], "left_semi")
    row = (
        ex.agg(F.count("*").alias("n_exact"))
        .crossJoin(approx.agg(F.count("*").alias("n_approx")))
        .crossJoin(matched.agg(F.count("*").alias("n_matched")))
        .select(
            (
                (F.col("n_exact") == 0)
                | (F.col("n_matched") >= 0.9 * F.col("n_exact"))
            ).alias("recall_ge_090"),
            (
                (F.col("n_exact") == 0)
                | (F.col("n_approx") == 0)
                | (F.col("n_matched") >= 0.9 * F.col("n_approx"))
            ).alias("precision_ge_090"),
        )
        .collect()[0]
    )
    assert row["recall_ge_090"] is True
    assert row["precision_ge_090"] is True


def test_bowley_skew_degenerate_iqr_is_null(spark):
    """ADVICE r4: q3 == q1 (constant distribution between the
    quartiles) must yield NULL bowley_skew, not NaN/Inf — identically
    to the oracle's CASE WHEN guard."""
    import duckdb

    from dbt_lab_spark.workload_stats import _SQL_BOWLEY_SKEW

    rows = [(i, "flat", 5.0) for i in range(20)] + [
        (100 + i, "vary", float(i)) for i in range(20)
    ]
    ev = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    ev.createOrReplaceTempView("_w31_ev")
    # inline the query's arithmetic on the temp view
    from pyspark.sql import Window

    from dbt_lab_spark.workload import money

    base = ev.select("event_type", (money("value") * 100).cast("long").alias("x"))
    wr = Window.partitionBy("event_type").orderBy("x")
    numbered = base.select(
        "event_type", "x", F.row_number().over(wr).alias("rn")
    )
    counts = numbered.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    j = numbered.join(counts, "event_type")
    q1r = F.greatest(F.lit(1), F.floor((F.col("n") + 1) / 4).cast("long"))
    q2r = F.floor((F.col("n") + 1) / 2).cast("long")
    q3r = F.least(F.col("n"), F.floor(3 * (F.col("n") + 1) / 4).cast("long"))
    q1 = j.filter(F.col("rn") == q1r).select("event_type", F.col("x").alias("q1"))
    q2 = j.filter(F.col("rn") == q2r).select("event_type", F.col("x").alias("q2"))
    q3 = j.filter(F.col("rn") == q3r).select("event_type", F.col("x").alias("q3"))
    f = q1.join(q2, "event_type").join(q3, "event_type")
    skew = F.when(
        F.col("q3") != F.col("q1"),
        (F.col("q3") + F.col("q1") - 2 * F.col("q2")).cast("double")
        / (F.col("q3") - F.col("q1")).cast("double"),
    )
    got = {
        r["event_type"]: r["s"]
        for r in f.select("event_type", F.round(skew, 6).alias("s")).collect()
    }
    assert got["flat"] is None
    assert got["vary"] is not None

    # oracle side on the same data agrees
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, 'flat', 5.0, TIMESTAMP '2024-01-01')" for i in range(20)
        )
        + ", "
        + ", ".join(
            f"({100 + i}, 'vary', {float(i)}, TIMESTAMP '2024-01-01')"
            for i in range(20)
        )
        + ") t(event_id, event_type, value, ts)"
    )
    oracle = {
        r[0]: r[4] for r in con.execute(_SQL_BOWLEY_SKEW).fetchall()
    }
    assert oracle["flat"] is None
    assert oracle["vary"] == got["vary"]


def test_moving_range_single_day_counts_zero(spark):
    """ADVICE r4 companion: with exactly ONE day of purchases the
    moving-range limits are NULL; out-of-control counts must be 0 in
    both engines (when/otherwise(0), not a NULL-summing cast)."""
    import duckdb

    from dbt_lab_spark.workload_timeseries import _SQL_MOVING_RANGE

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        "(1, 'purchase', 10.0, TIMESTAMP '2024-01-01 03:00:00'), "
        "(2, 'purchase', 12.5, TIMESTAMP '2024-01-01 17:00:00')"
        ") t(event_id, event_type, value, ts)"
    )
    n_days, mean_daily, mean_mr, n_out_x, n_out_mr = con.execute(
        _SQL_MOVING_RANGE
    ).fetchone()
    assert (n_days, n_out_x, n_out_mr) == (1, 0, 0)
    assert mean_mr is None


def test_moving_range_single_day_spark_matches(spark, sf_small, tmp_path):
    """Spark side of the single-day edge: build a one-day sf dir with
    the real events schema and assert the query returns the same
    (n_days=1, n_out=0, NULL mean_moving_range) shape as the oracle."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbt_lab_spark.workload_timeseries import _q_moving_range

    schema = pq.read_schema(os.path.join(sf_small, "events.parquet"))
    src = pq.read_table(os.path.join(sf_small, "events.parquet"))
    # keep only purchases from the single earliest day present
    import pyarrow.compute as pc

    ts_unit = schema.field("ts").type.unit
    div = {"s": 86400, "ms": 86400000, "us": 86400000000, "ns": 86400000000000}[
        ts_unit
    ]
    days = pc.floor(
        pc.divide(pc.cast(src["ts"], pa.int64()), float(div))
    )
    first_day = pc.min(days).as_py()
    mask = pc.and_(
        pc.equal(days, first_day), pc.equal(src["event_type"], "purchase")
    )
    one_day = src.filter(mask)
    assert one_day.num_rows >= 1
    d = tmp_path / "sf_oneday"
    d.mkdir()
    pq.write_table(one_day, str(d / "events.parquet"))
    row = _q_moving_range(spark, str(d)).collect()[0]
    assert row["n_days"] == 1
    assert row["mean_moving_range"] is None
    assert (row["n_out_x"], row["n_out_mr"]) == (0, 0)
