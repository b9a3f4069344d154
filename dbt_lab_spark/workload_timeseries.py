"""Time-series and event-sequence queries.

Queries whose answer depends on time order: daily and hourly series
(rolling bands, change points and drift, autocorrelation, causality
and cointegration, control charts, intermittent demand, calendar
densification), engagement sequences (streaks, DAU/WAU, new vs
returning users, abandonment, funnels, journey attribution, event
studies) and interval sweeps.  Same (builder, oracle) contract and
exactness conventions as dbt_lab_spark.workload_stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbt_lab_spark.catalog import Catalog
from dbt_lab_spark.expr import money
from dbt_lab_spark.localrel import local_df
from dbt_lab_spark.operators.scan import scan
from dbt_lab_spark.workload import QueryDef


_D = "double"


# ---------------------------------------------------------------------------
# sweep-line interval concurrency (max open orders per priority)
# ---------------------------------------------------------------------------


def _q_max_concurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak resource concurrency via the sweep-line: each order is an
    interval [o_orderdate, max(l_shipdate)) — half-open, so an order
    closing at t frees capacity before one opening at t takes it.
    Emit +1/-1 boundary points, COLLAPSE duplicate (ts, delta) points
    with a count (this makes every running-sum prefix deterministic —
    ungrouped equal sort keys would give order-dependent partial
    sums), one running sum per priority, argmax with a min-ts
    tie-break.  Exact integers end-to-end.  Scale: the sweep is a
    keyed window over collapsed boundary points (<= 2 per distinct
    timestamp), partitioned by priority."""
    cat = Catalog(sf_dir)
    orders = scan(
        spark, cat, "orders", ["o_orderkey", "o_orderpriority", "o_orderdate"]
    )
    li = scan(spark, cat, "lineitem", ["l_orderkey", "l_shipdate"])
    ends = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("end_ts"))
    iv = (
        orders.join(ends, orders.o_orderkey == ends.l_orderkey)
        .select(
            "o_orderpriority",
            F.col("o_orderdate").alias("start_ts"),
            "end_ts",
        )
        # a generator quirk can put the last shipdate at/before the order
        # date; such empty/negative intervals occupy no time under the
        # half-open convention, but their -1 would land BEFORE their +1
        # in the sweep and corrupt every prefix in between — drop them.
        .filter(F.col("end_ts") > F.col("start_ts"))
    )
    points = (
        iv.select(
            "o_orderpriority", F.col("start_ts").alias("ts"), F.lit(1).alias("delta")
        )
        .unionAll(
            iv.select(
                "o_orderpriority", F.col("end_ts").alias("ts"), F.lit(-1).alias("delta")
            )
        )
        .groupBy("o_orderpriority", "ts", "delta")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("ts", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = points.withColumn("run", F.sum(F.col("delta") * F.col("cnt")).over(w))
    mc = F.max("run").over(Window.partitionBy("o_orderpriority"))
    flagged = run.withColumn("mc", mc)
    return (
        flagged.groupBy("o_orderpriority")
        .agg(
            F.max("run").cast("bigint").alias("max_concurrent"),
            F.min(F.when(F.col("run") == F.col("mc"), F.col("ts"))).alias("peak_ts"),
            F.sum(F.when(F.col("delta") == 1, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


_SQL_MAX_CONCURRENT = """
WITH ends AS (
  SELECT l_orderkey, MAX(l_shipdate) AS end_ts FROM lineitem GROUP BY 1
), iv AS (
  SELECT o_orderpriority, o_orderdate AS start_ts, end_ts
  FROM orders JOIN ends ON o_orderkey = l_orderkey
  WHERE end_ts > o_orderdate
), points AS (
  SELECT o_orderpriority, ts, delta, COUNT(*) AS cnt FROM (
    SELECT o_orderpriority, start_ts AS ts, 1 AS delta FROM iv
    UNION ALL
    SELECT o_orderpriority, end_ts AS ts, -1 AS delta FROM iv
  ) GROUP BY 1, 2, 3
), sweep AS (
  SELECT o_orderpriority, ts, delta, cnt,
         SUM(delta * cnt) OVER (PARTITION BY o_orderpriority
                                ORDER BY ts, delta
                                ROWS UNBOUNDED PRECEDING) AS run
  FROM points
), flagged AS (
  SELECT *, MAX(run) OVER (PARTITION BY o_orderpriority) AS mc FROM sweep
)
SELECT o_orderpriority,
       CAST(MAX(run) AS BIGINT) AS max_concurrent,
       MIN(CASE WHEN run = mc THEN ts END) AS peak_ts,
       CAST(SUM(CASE WHEN delta = 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_orders
FROM flagged
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# maximum drawdown of cumulative daily revenue (exact decimal)
# ---------------------------------------------------------------------------


def _q_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the DEMEANED cumulative daily-revenue curve
    (cumulative revenue minus the average-pace line k*mean_daily) —
    the path-dependent "how far behind the average pace did we fall"
    risk statistic q_cusum's mean-shift detector doesn't capture.
    (Raw cumulative revenue is monotone, so its drawdown is
    identically 0 — the demeaned curve is the one that excursions.)
    EXACT arithmetic throughout: daily sums in integer CENTS, and the
    demeaned value is scaled through n_days —
    s_k = n_days*cum_k - k*total — so no division happens before the
    final double outputs; the trough argmax tie-breaks on the earliest
    day.  Scale: windows run over the per-day rollup (|days|), never
    raw orders."""
    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_orderdate", "o_totalprice"])
    daily = (
        orders.select(
            F.date_trunc("day", "o_orderdate").cast("date").alias("d"),
            money("o_totalprice").alias("rev"),
        )
        .groupBy("d")
        .agg((F.sum("rev") * 100).cast("long").alias("rev_c"))
    )
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    wins = daily.select(
        "d",
        F.row_number().over(Window.orderBy("d")).alias("k"),
        F.sum("rev_c").over(wc).alias("cum_c"),
        F.sum("rev_c").over(wall).alias("tot_c"),
        F.count(F.lit(1)).over(wall).alias("n_days"),
    ).withColumn(
        "s", F.col("n_days") * F.col("cum_c") - F.col("k") * F.col("tot_c")
    )
    dd = wins.select(
        "d", "s", "n_days", F.max("s").over(wc).alias("peak")
    ).withColumn("drawdown", F.col("peak") - F.col("s"))
    mdd = dd.withColumn("mdd", F.max("drawdown").over(wall))
    scale = F.lit(100.0) * F.col("n_days").cast(_D)
    return (
        mdd.filter(F.col("drawdown") == F.col("mdd"))
        .orderBy("d")
        .limit(1)
        .select(
            F.col("d").alias("trough_day"),
            F.round(F.col("drawdown").cast(_D) / scale, 4).alias("max_drawdown"),
            F.round(F.col("peak").cast(_D) / scale, 4).alias("peak_demeaned"),
            F.round(F.col("s").cast(_D) / scale, 4).alias("demeaned_at_trough"),
            F.col("n_days").cast("bigint").alias("n_days"),
        )
    )


_SQL_DRAWDOWN = """
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rev_c
  FROM orders GROUP BY 1
), wins AS (
  SELECT d,
         ROW_NUMBER() OVER (ORDER BY d) AS k,
         SUM(rev_c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cum_c,
         SUM(rev_c) OVER () AS tot_c,
         COUNT(*) OVER () AS n_days
  FROM daily
), dm AS (
  SELECT d, n_days, n_days * cum_c - k * tot_c AS s FROM wins
), dd AS (
  SELECT d, s, n_days,
         MAX(s) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS peak
  FROM dm
), scored AS (
  SELECT d, s, peak, n_days, peak - s AS drawdown,
         MAX(peak - s) OVER () AS mdd
  FROM dd
)
SELECT d AS trough_day,
       round(CAST(drawdown AS DOUBLE) / (100.0 * CAST(n_days AS DOUBLE)), 4)
         AS max_drawdown,
       round(CAST(peak AS DOUBLE) / (100.0 * CAST(n_days AS DOUBLE)), 4)
         AS peak_demeaned,
       round(CAST(s AS DOUBLE) / (100.0 * CAST(n_days AS DOUBLE)), 4)
         AS demeaned_at_trough,
       CAST(n_days AS BIGINT) AS n_days
FROM scored WHERE drawdown = mdd ORDER BY d LIMIT 1
"""


# ---------------------------------------------------------------------------
# gaps-and-islands: longest consecutive-day activity streaks
# ---------------------------------------------------------------------------

_STREAK_TOPK = 20


def _q_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user, top-20 — the
    gaps-and-islands engagement metric.  The classic day_int minus
    row_number island key (exact integers), per-user best streak with
    an earliest-start tie-break, global top-20 tie-broken on user_id.
    Scale: one distinct (user, day) aggregate, then user-partitioned
    windows over per-user day counts."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    di = F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
    wd = Window.partitionBy("user_id").orderBy("d")
    isl = ev.select(
        "user_id", "d", (di - F.row_number().over(wd)).alias("island")
    )
    runs = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len"), F.min("d").alias("start_d")
    )
    wbest = Window.partitionBy("user_id").orderBy(F.desc("len"), "start_d")
    best = runs.withColumn("rn", F.row_number().over(wbest)).filter(F.col("rn") == 1)
    wtop = Window.orderBy(F.desc("len"), "user_id")
    return (
        best.withColumn("rk", F.row_number().over(wtop))
        .filter(F.col("rk") <= _STREAK_TOPK)
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("len").cast("bigint").alias("streak_days"),
            F.col("start_d").alias("streak_start"),
        )
        .orderBy(F.desc("streak_days"), "user_id")
    )


_SQL_STREAKS = f"""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), isl AS (
  SELECT user_id, d,
         date_diff('day', DATE '1970-01-01', d)
         - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS island
  FROM days
), runs AS (
  SELECT user_id, island, COUNT(*) AS len, MIN(d) AS start_d
  FROM isl GROUP BY 1, 2
), best AS (
  SELECT user_id, len, start_d,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY len DESC, start_d) AS rn
  FROM runs
), top AS (
  SELECT user_id, len, start_d,
         ROW_NUMBER() OVER (ORDER BY len DESC, user_id) AS rk
  FROM best WHERE rn = 1
)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(len AS BIGINT) AS streak_days,
       start_d AS streak_start
FROM top WHERE rk <= {_STREAK_TOPK}
ORDER BY streak_days DESC, user_id
"""


# ---------------------------------------------------------------------------
# single change-point detection over the hourly event series
# ---------------------------------------------------------------------------


def _q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares single change-point in the hourly event-count
    series: the split minimizing SSE_left + SSE_right (binary
    segmentation step 1 — the structural-shift complement to q_cusum's
    sequential detector).  Every candidate split's SSE comes from
    exact-integer prefix sums via ONE cumulative window, evaluated
    with one identically-parenthesized double formula, argmin
    tie-broken on the earlier hour.  IEEE +,-,*,/ are exactly rounded,
    so identical integer inputs give bit-identical doubles in both
    engines — no transcendentals anywhere.  Scale: O(|hours|) after
    the rollup, never a per-split rescan."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select(
        F.floor(F.unix_millis("ts") / F.lit(3600000.0)).cast("long").alias("h")
    )
    hourly = ev.groupBy("h").agg(F.count(F.lit(1)).alias("y"))
    wc = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre = hourly.select(
        "h",
        F.row_number().over(Window.orderBy("h")).alias("k"),
        F.sum("y").over(wc).alias("cy"),
        F.sum(F.col("y") * F.col("y")).over(wc).alias("cyy"),
    )
    tot = hourly.agg(
        F.count(F.lit(1)).alias("hh"),
        F.sum("y").alias("ty"),
        F.sum(F.col("y") * F.col("y")).alias("tyy"),
    )
    j = pre.crossJoin(F.broadcast(tot)).filter(F.col("k") < F.col("hh"))
    kd = F.col("k").cast(_D)
    rd = (F.col("hh") - F.col("k")).cast(_D)
    cyd = F.col("cy").cast(_D)
    ryd = (F.col("ty") - F.col("cy")).cast(_D)
    sse = (
        F.col("cyy").cast(_D) - cyd * cyd / kd
    ) + ((F.col("tyy") - F.col("cyy")).cast(_D) - ryd * ryd / rd)
    scored = j.select(
        "h", "k", "hh", "cy", "ty", sse.alias("sse")
    )
    best = scored.withColumn(
        "rn", F.row_number().over(Window.orderBy("sse", "h"))
    ).filter(F.col("rn") == 1)
    return best.select(
        F.col("h").cast("bigint").alias("split_after_hour"),
        F.col("k").cast("bigint").alias("n_left"),
        (F.col("hh") - F.col("k")).cast("bigint").alias("n_right"),
        F.round(F.col("sse"), 6).alias("sse_best"),
        F.round(F.col("cy").cast(_D) / F.col("k").cast(_D), 6).alias("mean_left"),
        F.round(
            (F.col("ty") - F.col("cy")).cast(_D)
            / (F.col("hh") - F.col("k")).cast(_D),
            6,
        ).alias("mean_right"),
    )


_SQL_CHANGEPOINT = """
WITH hourly AS (
  SELECT CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS h,
         COUNT(*) AS y
  FROM events GROUP BY 1
), pre AS (
  SELECT h,
         ROW_NUMBER() OVER (ORDER BY h) AS k,
         SUM(y) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS cy,
         SUM(y * y) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS cyy
  FROM hourly
), tot AS (
  SELECT COUNT(*) AS hh, SUM(y) AS ty, SUM(y * y) AS tyy FROM hourly
), scored AS (
  SELECT h, k, hh, cy, ty,
         (CAST(cyy AS DOUBLE)
          - CAST(cy AS DOUBLE) * CAST(cy AS DOUBLE) / CAST(k AS DOUBLE))
         + (CAST(tyy - cyy AS DOUBLE)
            - CAST(ty - cy AS DOUBLE) * CAST(ty - cy AS DOUBLE)
              / CAST(hh - k AS DOUBLE)) AS sse
  FROM pre CROSS JOIN tot
  WHERE k < hh
), best AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY sse, h) AS rn FROM scored
)
SELECT CAST(h AS BIGINT) AS split_after_hour,
       CAST(k AS BIGINT) AS n_left,
       CAST(hh - k AS BIGINT) AS n_right,
       round(sse, 6) AS sse_best,
       round(CAST(cy AS DOUBLE) / CAST(k AS DOUBLE), 6) AS mean_left,
       round(CAST(ty - cy AS DOUBLE) / CAST(hh - k AS DOUBLE), 6) AS mean_right
FROM best WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# dynamic time warping between hour-of-day profiles (applyInPandas DP)
# ---------------------------------------------------------------------------

_DTW_N = 24


def _q_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DTW distance between each event type's 24-point hour-of-day
    value profile and the 'view' profile — elastic series matching
    where Euclidean comparison fails on phase shifts.  The genuinely
    ITERATIVE recurrence dp[i][j] = c + min(left, up, diag) runs as an
    Arrow-batched applyInPandas NumPy DP per event type (the
    custom-operator escape hatch: one group per series pair, series
    pre-aggregated to 24 points, so state is O(N^2) tiny while the
    events pass stays one hash aggregate).  Profiles are frozen to
    round-6 doubles before the DP; every DP cell is then a uniquely
    determined IEEE double (min/add only, no reassociation), so the
    oracle — the SAME recurrence unrolled over the 47 anti-diagonals
    as chained SQL CTEs — matches bit-for-bit.  The self-pair
    (view vs view) rides along as a built-in zero check."""
    import numpy as np
    import pandas as pd

    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select(
        "event_type", F.hour("ts").alias("h"), money("value").alias("y")
    )
    prof = (
        ev.groupBy("event_type", "h")
        .agg(
            F.round(
                F.sum("y").cast(_D) / F.count(F.lit(1)).cast(_D), 6
            ).alias("p")
        )
    )
    types = ev.select("event_type").distinct()
    hours = spark.range(_DTW_N).select(F.col("id").cast("int").alias("h"))
    dense = (
        types.crossJoin(hours)
        .join(prof, ["event_type", "h"], "left")
        .select("event_type", "h", F.coalesce("p", F.lit(0.0)).alias("p"))
    )
    bprof = dense.filter(F.col("event_type") == "view").select(
        "h", F.col("p").alias("pb")
    )
    paired = dense.join(F.broadcast(bprof), "h")

    def dtw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h")
        a = pdf["p"].to_numpy(dtype=np.float64)
        b = pdf["pb"].to_numpy(dtype=np.float64)
        n = len(a)
        dp = np.full((n + 1, n + 1), np.inf)
        dp[0, 0] = 0.0
        for i in range(1, n + 1):
            for j in range(1, n + 1):
                c = abs(a[i - 1] - b[j - 1])
                dp[i, j] = c + min(dp[i - 1, j], dp[i, j - 1], dp[i - 1, j - 1])
        d = float(dp[n, n])
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "dtw_dist": [round(d, 6)],
                "dtw_per_step": [round(d / (2 * n), 6)],
            }
        )

    return (
        paired.groupBy("event_type")
        .applyInPandas(dtw, "event_type string, dtw_dist double, dtw_per_step double")
        .orderBy("event_type")
    )


def _sql_dtw() -> str:
    """Oracle for _q_dtw: the identical DP unrolled over anti-diagonals
    i+j = k as a chain of 47 CTEs (cells of diagonal k depend only on
    diagonals k-1 and k-2, so each stage is one 3-way left join of
    tiny cell sets — no recursion needed and no ordering ambiguity)."""
    n = _DTW_N
    parts = [
        f"""WITH prof AS MATERIALIZED (
  SELECT event_type AS t, hour(ts) AS h,
         round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS p
  FROM events GROUP BY 1, 2
), types AS (SELECT DISTINCT event_type AS t FROM events),
hours AS (SELECT CAST(range AS INT) AS h FROM range({n})),
dense AS MATERIALIZED (
  SELECT ty.t, hh.h, COALESCE(p.p, 0.0) AS p
  FROM types ty CROSS JOIN hours hh
  LEFT JOIN prof p ON p.t = ty.t AND p.h = hh.h
), bprof AS (SELECT h, p AS pb FROM dense WHERE t = 'view'),
cost AS MATERIALIZED (
  SELECT d.t, d.h + 1 AS i, b.h + 1 AS j, abs(d.p - b.pb) AS c
  FROM dense d CROSS JOIN bprof b
),
dp2 AS MATERIALIZED (SELECT t, i, j, c AS v FROM cost WHERE i = 1 AND j = 1)"""
    ]
    for k in range(3, 2 * n + 1):
        diag = (
            f"LEFT JOIN dp{k - 2} d ON d.t = c.t AND d.i = c.i - 1 AND d.j = c.j - 1"
            if k > 3
            else ""
        )
        dterm = "COALESCE(d.v, 1e300)" if k > 3 else "1e300"
        parts.append(
            f""",
dp{k} AS MATERIALIZED (
  SELECT c.t, c.i, c.j,
         c.c + least(COALESCE(a.v, 1e300), COALESCE(b.v, 1e300), {dterm}) AS v
  FROM cost c
  LEFT JOIN dp{k - 1} a ON a.t = c.t AND a.i = c.i - 1 AND a.j = c.j
  LEFT JOIN dp{k - 1} b ON b.t = c.t AND b.i = c.i AND b.j = c.j - 1
  {diag}
  WHERE c.i + c.j = {k}
)"""
        )
    parts.append(
        f"""
SELECT t AS event_type, round(v, 6) AS dtw_dist,
       round(v / {2 * n}.0, 6) AS dtw_per_step
FROM dp{2 * n} ORDER BY 1"""
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# sequential probability ratio test over the daily purchase share
# ---------------------------------------------------------------------------

# frozen-ln constants (exact decimal literals in BOTH engines):
# ln(0.55/0.45) rounded to 6 places; Wald bounds ln(19) for
# alpha = beta = 0.05.
_SPRT_L1 = "0.200671"
_SPRT_BOUND = "2.944439"


def _q_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT on the daily purchase share: H0 p=0.45 vs H1 p=0.55
    over Bernoulli trials (purchase vs view), batched per day — the
    always-valid sequential A/B monitor.  Each day adds the exact
    DECIMAL increment (2*k - m) * L1 where L1 = frozen ln(11/9)
    (symmetric hypotheses make the two log terms +/-L1), so the
    cumulative LLR walk is an exact decimal; boundary compares
    (+/- ln 19) are decimal-exact too.  Scale: one events hash
    aggregate to the ~30-row day grain, then one cumulative window."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").filter(F.col("event_type").isin("view", "purchase"))
    daily = (
        ev.select(
            F.to_date("ts").alias("day"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("s"),
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("m"), F.sum("s").alias("k"))
    )
    l1 = F.lit(_SPRT_L1).cast("decimal(18,6)")
    bound = F.lit(_SPRT_BOUND).cast("decimal(18,6)")
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    walk = daily.select(
        "day",
        "m",
        "k",
        F.sum((2 * F.col("k") - F.col("m")) * l1).over(wc).alias("llr"),
    )
    state = (
        F.when(F.col("llr") >= bound, "accept_h1")
        .when(F.col("llr") <= -bound, "accept_h0")
        .otherwise("continue")
    )
    flagged = walk.select(
        "day",
        F.col("m").cast("bigint").alias("n_trials"),
        F.col("k").cast("bigint").alias("n_success"),
        F.col("llr").cast(_D).alias("cum_llr"),
        state.alias("state"),
    )
    wall = Window.partitionBy()
    return (
        flagged.withColumn(
            "first_cross",
            F.min(F.when(F.col("state") != "continue", F.col("day"))).over(wall),
        )
        .orderBy("day")
    )


_SQL_SPRT = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS m,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k
  FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1
), walk AS (
  SELECT day, m, k,
         SUM((2 * k - m) * CAST({_SPRT_L1} AS DECIMAL(18,6)))
           OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS llr
  FROM daily
), flagged AS (
  SELECT day, CAST(m AS BIGINT) AS n_trials, CAST(k AS BIGINT) AS n_success,
         CAST(llr AS DOUBLE) AS cum_llr,
         CASE WHEN llr >= CAST({_SPRT_BOUND} AS DECIMAL(18,6)) THEN 'accept_h1'
              WHEN llr <= -CAST({_SPRT_BOUND} AS DECIMAL(18,6)) THEN 'accept_h0'
              ELSE 'continue' END AS state
  FROM walk
)
SELECT *, MIN(CASE WHEN state <> 'continue' THEN day END) OVER () AS first_cross
FROM flagged
ORDER BY day
"""


# ---------------------------------------------------------------------------
# Hampel filter: rolling-median/MAD outliers on the hourly series
# ---------------------------------------------------------------------------

_HAMPEL_HALF = 3  # window = center +/- 3 hours (7 points)


def _q_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel outlier filter on the hourly event-count series: flag
    hours where |y - rolling_median| > 3 * rolling_MAD, both statistics
    exact discrete medians over the +/-3-hour band — the robust
    complement to q_zscore_outliers (one wild hour cannot drag its own
    threshold the way it drags a mean/stddev).  EVERYTHING stays
    integer: counts, medians (lower median at rank (cnt+1)/2 with
    value-ordered rank), absolute deviations, and the 3*MAD compare —
    zero float drift by construction.  Scale: two band self-joins on
    the COMPRESSED hourly grain (|hours| x 7 tuples), never raw
    events; the events pass is one hash aggregate."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select(
        F.floor(F.unix_millis("ts") / F.lit(3600000.0)).cast("long").alias("h")
    )
    hourly = ev.groupBy("h").agg(F.count(F.lit(1)).alias("y"))
    nb = hourly.select(F.col("h").alias("hn"), F.col("y").alias("yn"))
    band = hourly.join(
        nb,
        (F.col("hn") >= F.col("h") - _HAMPEL_HALF)
        & (F.col("hn") <= F.col("h") + _HAMPEL_HALF),
    )
    wmed = Window.partitionBy("h").orderBy("yn", "hn")
    med = (
        band.select(
            "h",
            "y",
            "yn",
            F.row_number().over(wmed).alias("r"),
            F.count(F.lit(1)).over(Window.partitionBy("h")).alias("cnt"),
        )
        .filter(F.col("r") * 2 == F.col("cnt") + (F.col("cnt") % 2))
        .select("h", "y", F.col("yn").alias("med"), "cnt")
    )
    dev = med.join(
        nb.select(F.col("hn").alias("hn2"), F.col("yn").alias("yn2")),
        (F.col("hn2") >= F.col("h") - _HAMPEL_HALF)
        & (F.col("hn2") <= F.col("h") + _HAMPEL_HALF),
    ).select("h", "y", "med", "cnt", F.abs(F.col("yn2") - F.col("med")).alias("ad"), "hn2")
    wmad = Window.partitionBy("h").orderBy("ad", "hn2")
    mad = (
        dev.select(
            "h",
            "y",
            "med",
            "cnt",
            "ad",
            F.row_number().over(wmad).alias("r"),
        )
        .filter(F.col("r") * 2 == F.col("cnt") + (F.col("cnt") % 2))
        .select("h", "y", "med", F.col("ad").alias("mad"), "cnt")
    )
    return (
        mad.filter(F.abs(F.col("y") - F.col("med")) > 3 * F.col("mad"))
        .select(
            F.col("h").cast("bigint").alias("hour"),
            F.col("y").cast("bigint").alias("y"),
            F.col("med").cast("bigint").alias("rolling_med"),
            F.col("mad").cast("bigint").alias("rolling_mad"),
            F.col("cnt").cast("bigint").alias("window_n"),
        )
        .orderBy("hour")
    )


_SQL_HAMPEL = f"""
WITH hourly AS MATERIALIZED (
  SELECT CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS h, COUNT(*) AS y
  FROM events GROUP BY 1
), band AS (
  SELECT c.h, c.y, n.h AS hn, n.y AS yn
  FROM hourly c JOIN hourly n
    ON n.h BETWEEN c.h - {_HAMPEL_HALF} AND c.h + {_HAMPEL_HALF}
), med AS MATERIALIZED (
  SELECT h, y, yn AS med, cnt FROM (
    SELECT h, y, yn,
           ROW_NUMBER() OVER (PARTITION BY h ORDER BY yn, hn) AS r,
           COUNT(*) OVER (PARTITION BY h) AS cnt
    FROM band
  ) WHERE r * 2 = cnt + (cnt % 2)
), dev AS (
  SELECT m.h, m.y, m.med, m.cnt, abs(n.y - m.med) AS ad, n.h AS hn2
  FROM med m JOIN hourly n
    ON n.h BETWEEN m.h - {_HAMPEL_HALF} AND m.h + {_HAMPEL_HALF}
), mad AS (
  SELECT h, y, med, ad AS mad, cnt FROM (
    SELECT h, y, med, cnt, ad,
           ROW_NUMBER() OVER (PARTITION BY h ORDER BY ad, hn2) AS r
    FROM dev
  ) WHERE r * 2 = cnt + (cnt % 2)
)
SELECT CAST(h AS BIGINT) AS hour, CAST(y AS BIGINT) AS y,
       CAST(med AS BIGINT) AS rolling_med, CAST(mad AS BIGINT) AS rolling_mad,
       CAST(cnt AS BIGINT) AS window_n
FROM mad WHERE abs(y - med) > 3 * mad
ORDER BY hour
"""


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test on daily event-count moves
# ---------------------------------------------------------------------------


def _q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily
    event-count up/down sequence: count sign runs among nonzero
    day-over-day moves, compare with the null mean 2*n1*n2/(n1+n2)+1 —
    the nonparametric trend-free randomness check next to
    q_mann_kendall's monotone-trend test.  Runs, n1, n2 are exact
    integers from two lag windows; z is one identically-parenthesized
    double formula.  Scale: one events hash aggregate to the day
    grain, then two windows over ~30 rows."""
    cat = Catalog(sf_dir)
    daily = (
        cat.table(spark, "events")
        .select(F.to_date("ts").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    wd = Window.orderBy("day")
    signs = (
        daily.select(
            "day", (F.col("y") - F.lag("y").over(wd)).alias("d")
        )
        .filter(F.col("d").isNotNull() & (F.col("d") != 0))
        .select("day", F.signum("d").cast("int").alias("s"))
    )
    ws = Window.orderBy("day")
    runs = signs.select(
        "s",
        F.when(
            F.lag("s").over(ws).isNull() | (F.lag("s").over(ws) != F.col("s")), 1
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0)).alias("n2"),
        F.sum("new_run").alias("runs"),
    )
    n1d = F.col("n1").cast(_D)
    n2d = F.col("n2").cast(_D)
    mu = 2.0 * n1d * n2d / (n1d + n2d) + 1.0
    var = (mu - 1.0) * (mu - 2.0) / (n1d + n2d - 1.0)
    z = (F.col("runs").cast(_D) - mu) / F.sqrt(var)
    return agg.select(
        F.col("n1").cast("bigint").alias("n_up"),
        F.col("n2").cast("bigint").alias("n_down"),
        F.col("runs").cast("bigint").alias("n_runs"),
        F.round(mu, 6).alias("mu_runs"),
        F.round(z, 6).alias("z_stat"),
    )


_SQL_RUNS_TEST = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS y FROM events GROUP BY 1
), signs AS (
  SELECT day, CAST(sign(d) AS INT) AS s FROM (
    SELECT day, y - lag(y) OVER (ORDER BY day) AS d FROM daily
  ) WHERE d IS NOT NULL AND d <> 0
), runs AS (
  SELECT s, CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
                   OR lag(s) OVER (ORDER BY day) <> s THEN 1 ELSE 0 END AS new_run
  FROM signs
), agg AS (
  SELECT SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS n2,
         SUM(new_run) AS runs
  FROM runs
)
SELECT CAST(n1 AS BIGINT) AS n_up, CAST(n2 AS BIGINT) AS n_down,
       CAST(runs AS BIGINT) AS n_runs,
       round(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
             / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0, 6) AS mu_runs,
       round((CAST(runs AS DOUBLE)
              - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0))
             / sqrt(((2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                      / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0) - 1.0)
                    * ((2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                        / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0) - 2.0)
                    / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0)), 6) AS z_stat
FROM agg
"""


# ---------------------------------------------------------------------------
# event study: outcomes aligned to each user's first purchase
# ---------------------------------------------------------------------------

_ES_HORIZON = 7


def _q_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Panel event study: align every user's event stream to their
    FIRST purchase (relative day 0) and average event value by
    relative day over [-7, +7] — the standard around-the-treatment
    dynamics plot.  The anchor is a per-user conditional MIN window
    (no self-join); means are exact DECIMAL sums over integer counts
    with ONE double division.  Scale: one user-partitioned window +
    one 15-group hash aggregate."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        "event_type",
        money("value").alias("v"),
    )
    wu = Window.partitionBy("user_id")
    anchored = ev.withColumn(
        "anchor",
        F.min(F.when(F.col("event_type") == "purchase", F.col("day"))).over(wu),
    ).filter(F.col("anchor").isNotNull())
    rel = anchored.select(
        F.datediff("day", "anchor").alias("rel_day"), "v"
    ).filter(F.abs(F.col("rel_day")) <= _ES_HORIZON)
    return (
        rel.groupBy("rel_day")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .select(
            F.col("rel_day").cast("int").alias("rel_day"),
            F.col("n").cast("bigint").alias("n_events"),
            F.round(F.col("s").cast(_D) / F.col("n").cast(_D), 6).alias("mean_value"),
        )
        .orderBy("rel_day")
    )


_SQL_EVENT_STUDY = f"""
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM events
), anchored AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' THEN day END)
              OVER (PARTITION BY user_id) AS anchor
  FROM ev
), rel AS (
  SELECT CAST(date_diff('day', anchor, day) AS INT) AS rel_day, v
  FROM anchored
  WHERE anchor IS NOT NULL
    AND abs(date_diff('day', anchor, day)) <= {_ES_HORIZON}
)
SELECT rel_day, CAST(COUNT(*) AS BIGINT) AS n_events,
       round(CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_value
FROM rel GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# seasonal strength of the hourly series (variance-explained ratio)
# ---------------------------------------------------------------------------


def _q_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal strength of the hourly event-count series: 1 -
    var(residual)/var(total) after removing the hour-of-day profile —
    the STL-style forecastability score (complements q_seasonal's
    profile extraction with a single strength number).  The seasonal
    component is frozen to a round-6 DECIMAL mean per hour-of-day, so
    every residual y - s is an EXACT decimal and both variance
    numerators are exact decimal sums — only the final ratio is a
    double.  Scale: one events hash aggregate to the hourly grain,
    one 24-row profile aggregate, one broadcast join back."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select(
        F.floor(F.unix_millis("ts") / F.lit(3600000.0)).cast("long").alias("h")
    )
    hourly = ev.groupBy("h").agg(F.count(F.lit(1)).alias("y"))
    hod = hourly.select("h", "y", (F.col("h") % 24).alias("hod"))
    prof = hod.groupBy("hod").agg(
        F.round(F.sum("y").cast(_D) / F.count(F.lit(1)).cast(_D), 6)
        .cast("decimal(18,6)")
        .alias("s")
    )
    # residual in exact integer MICRO-units: y has scale 0, s scale 6,
    # so (y - s) * 1e6 is an exact integer; its square accumulates in
    # DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — both exact.
    joined = hod.join(F.broadcast(prof), "hod").select(
        "y",
        ((F.col("y") - F.col("s")) * 1000000).cast("long").alias("rm"),
    )
    mom = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum("rm").alias("sr"),
        F.sum(F.col("rm").cast("decimal(38,0)") * F.col("rm")).alias("srr"),
    )
    nd = F.col("n").cast(_D)
    var_tot = (nd * F.col("syy").cast(_D) - F.col("sy").cast(_D) * F.col("sy").cast(_D))
    var_res = (
        nd * F.col("srr").cast(_D) - F.col("sr").cast(_D) * F.col("sr").cast(_D)
    ) / 1e12
    strength = F.greatest(F.lit(0.0), 1.0 - var_res / var_tot)
    return mom.select(
        F.col("n").cast("bigint").alias("n_hours"),
        F.round(var_tot / (nd * nd), 6).alias("var_total"),
        F.round(var_res / (nd * nd), 6).alias("var_resid"),
        F.round(strength, 6).alias("seasonal_strength"),
    )


_SQL_SEASONAL_STRENGTH = """
WITH hourly AS (
  SELECT CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS h, COUNT(*) AS y
  FROM events GROUP BY 1
), hod AS (
  SELECT h, y, h % 24 AS hod FROM hourly
), prof AS (
  SELECT hod, CAST(round(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
                   AS DECIMAL(18,6)) AS s
  FROM hod GROUP BY 1
), joined AS (
  SELECT y, CAST((y - s) * 1000000 AS BIGINT) AS rm FROM hod JOIN prof USING (hod)
), mom AS (
  SELECT COUNT(*) AS n, SUM(y) AS sy,
         SUM(y * y) AS syy,
         SUM(rm) AS sr,
         SUM(CAST(rm AS HUGEINT) * rm) AS srr
  FROM joined
)
SELECT CAST(n AS BIGINT) AS n_hours,
       round((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS var_total,
       round(((CAST(n AS DOUBLE) * CAST(srr AS DOUBLE)
               - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)) / 1e12)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS var_resid,
       round(greatest(0.0, 1.0 - ((CAST(n AS DOUBLE) * CAST(srr AS DOUBLE)
                                   - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)) / 1e12)
                                 / (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS seasonal_strength
FROM mom
"""


# ---------------------------------------------------------------------------
# Markov removal-effect attribution (unrolled truncated absorption)
# ---------------------------------------------------------------------------

_MA_STEPS = 6
_MA_CHANNELS = ("click", "view", "signup", "error")


def _q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov attribution with removal effects: build the
    user-journey transition matrix (start -> channels -> conv on first
    purchase / null at journey end), then for each channel compute the
    conversion probability of the chain WITH THAT CHANNEL REMOVED
    (its outgoing AND incoming mass routed to null) and attribute by
    normalized removal effect — the data-driven alternative to
    last-touch that marketing stacks run.  Absorption probabilities
    use a 6-step truncated iteration v_{k+1}(s) = sum_t P(s,t) v_k(t)
    with P frozen round-6 DECIMAL and v re-frozen to round-6 after
    every step, so both engines walk identical numbers.

    Architecture (the llm/similarity.py Lloyd-loop precedent): Spark
    does the DISTRIBUTED work — one lag window + one hash aggregate
    from raw events down to the <=49-row transition matrix — and the
    O(states^2) absorption solve runs driver-side in exact
    decimal.Decimal arithmetic that replicates the engines' round
    semantics bit-for-bit (HALF_UP on the shortest-repr double, the
    same thing F.round and DuckDB round() do to the exact decimal
    sums).  An earlier all-DataFrame unroll was correct but spent ~30s
    of tiny-stage scheduling overhead on 49 rows; the matrix is
    O(|event types|^2) at ANY corpus size, so the driver pull is
    scale-safe.  Normalization sums ROUND-6 DECIMAL removal effects
    (order-free), never raw doubles."""
    from decimal import ROUND_HALF_UP, Decimal

    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select(
        "user_id",
        "ts",
        F.when(F.col("event_type") == "purchase", "conv")
        .otherwise(F.col("event_type"))
        .alias("state"),
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "state")
    seq = ev.select(
        "user_id",
        "state",
        F.row_number().over(wu).alias("rn"),
        F.min(F.when(F.col("state") == "conv", F.col("ts"))).over(
            Window.partitionBy("user_id")
        ).alias("conv_ts"),
        "ts",
    ).filter(F.col("conv_ts").isNull() | (F.col("ts") <= F.col("conv_ts")))
    wj = Window.partitionBy("user_id").orderBy("rn")
    steps = seq.select(
        "user_id",
        F.coalesce(F.lag("state").over(wj), F.lit("start")).alias("s"),
        F.col("state").alias("t"),
        "rn",
        F.max("rn").over(Window.partitionBy("user_id")).alias("last_rn"),
    )
    tails = (
        steps.filter((F.col("rn") == F.col("last_rn")) & (F.col("t") != "conv"))
        .select(F.col("t").alias("s"), F.lit("null").alias("t"))
    )
    trans = (
        steps.select("s", "t")
        .unionAll(tails)
        .groupBy("s", "t")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rows = trans.collect()  # <= (|types|+2)^2 rows — bounded driver pull

    six = Decimal("0.000001")

    def round6(x: float) -> Decimal:
        # F.round / DuckDB round(): HALF_UP on the shortest-repr double
        return Decimal(repr(float(x))).quantize(six, rounding=ROUND_HALF_UP)

    tot: dict[str, int] = {}
    for r in rows:
        tot[r["s"]] = tot.get(r["s"], 0) + r["cnt"]
    # p frozen exactly like the engines: double division, then round-6
    p = {(r["s"], r["t"]): round6(r["cnt"] / tot[r["s"]]) for r in rows}
    states = {s for s, _ in p} | {t for _, t in p}

    def absorb(removed: str | None) -> float:
        v = {s: Decimal(1) if s == "conv" else Decimal(0) for s in states}
        for _ in range(_MA_STEPS):
            nxt = {}
            for s in states:
                if s == "conv":
                    nxt[s] = Decimal(1)
                    continue
                if s == removed:
                    nxt[s] = Decimal(0)
                    continue
                acc = Decimal(0)  # exact scale-12 sum, like SUM(p*v)
                for (a, b), pv in p.items():
                    if a == s and b != removed:
                        acc += pv * v[b]
                nxt[s] = round6(float(acc))  # CAST AS DOUBLE -> round 6
            v = nxt
        return float(v.get("start", Decimal(0)))

    base = absorb(None)
    if base == 0.0:
        raise ValueError(
            "markov attribution needs at least one converting journey "
            "(empty corpus or no purchases)"
        )
    pconv = {c: absorb(c) for c in _MA_CHANNELS}
    re6 = {c: round6((base - pconv[c]) / base) for c in _MA_CHANNELS}
    re_tot = sum(re6.values())  # exact decimal sum of round-6 effects
    if re_tot == 0:
        # Conversions exist but never pass through any tracked channel:
        # every removal effect is 0 and attribution shares are undefined.
        # Same explicit refusal contract as the base == 0 case above
        # (registered in tests/test_empty_inputs.py semantics).
        raise ValueError(
            "markov attribution: no tracked channel has a nonzero removal "
            "effect (conversions bypass all tracked channels)"
        )
    out = [
        (
            c,
            float(round6(base)),
            float(round6(pconv[c])),
            float(re6[c]),
            float(round6(float(re6[c]) / float(re_tot))),
        )
        for c in _MA_CHANNELS
    ]
    out.sort()
    return local_df(spark, 
        out,
        "channel string, base_pconv double, removed_pconv double, "
        "removal_effect double, attribution double",
    )


def _sql_markov_attribution() -> str:
    chans = ", ".join(f"('{c}')" for c in ("none",) + _MA_CHANNELS)
    parts = [
        f"""WITH ev AS (
  SELECT user_id, ts,
         CASE WHEN event_type = 'purchase' THEN 'conv' ELSE event_type END AS state
  FROM events
), seq AS (
  SELECT * FROM (
    SELECT user_id, state, ts,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, state) AS rn,
           MIN(CASE WHEN state = 'conv' THEN ts END)
             OVER (PARTITION BY user_id) AS conv_ts
    FROM ev
  ) WHERE conv_ts IS NULL OR ts <= conv_ts
), steps AS MATERIALIZED (
  SELECT user_id,
         COALESCE(lag(state) OVER (PARTITION BY user_id ORDER BY rn), 'start') AS s,
         state AS t, rn,
         MAX(rn) OVER (PARTITION BY user_id) AS last_rn
  FROM seq
), trans AS MATERIALIZED (
  SELECT s, t, COUNT(*) AS cnt FROM (
    SELECT s, t FROM steps
    UNION ALL
    SELECT t AS s, 'null' AS t FROM steps WHERE rn = last_rn AND t <> 'conv'
  ) GROUP BY 1, 2
), probs AS MATERIALIZED (
  SELECT s, t,
         CAST(round(CAST(cnt AS DOUBLE)
                    / CAST(SUM(cnt) OVER (PARTITION BY s) AS DOUBLE), 6)
              AS DECIMAL(18,6)) AS p
  FROM trans
), removed AS (SELECT * FROM (VALUES {chans}) AS r(removed)),
pr AS MATERIALIZED (
  SELECT removed, s, t, p FROM removed CROSS JOIN probs
  WHERE s <> removed AND t <> removed
), states AS MATERIALIZED (
  SELECT DISTINCT removed, state FROM removed CROSS JOIN (
    SELECT t AS state FROM probs UNION SELECT s FROM probs)
),
v0 AS MATERIALIZED (
  SELECT removed, state,
         CASE WHEN state = 'conv' THEN CAST(1.000000 AS DECIMAL(18,6))
              ELSE CAST(0.000000 AS DECIMAL(18,6)) END AS v
  FROM states
)"""
    ]
    for k in range(1, _MA_STEPS + 1):
        parts.append(
            f""",
v{k} AS MATERIALIZED (
  SELECT st.removed, st.state,
         CASE WHEN st.state = 'conv' THEN CAST(1.000000 AS DECIMAL(18,6))
              ELSE COALESCE(sv.v, CAST(0.000000 AS DECIMAL(18,6))) END AS v
  FROM states st
  LEFT JOIN (
    SELECT pr.removed, pr.s AS state,
           CAST(round(CAST(SUM(pr.p * pv.v) AS DOUBLE), 6) AS DECIMAL(18,6)) AS v
    FROM pr JOIN v{k - 1} pv ON pv.removed = pr.removed AND pv.state = pr.t
    GROUP BY 1, 2
  ) sv ON sv.removed = st.removed AND sv.state = st.state
)"""
        )
    parts.append(
        f""",
at_start AS (
  SELECT removed, CAST(v AS DOUBLE) AS pconv
  FROM v{_MA_STEPS} WHERE state = 'start'
), eff AS (
  SELECT a.removed AS channel, a.pconv, b.pconv AS base,
         CAST(round((b.pconv - a.pconv) / b.pconv, 6) AS DECIMAL(18,6)) AS re6
  FROM at_start a CROSS JOIN (SELECT pconv FROM at_start WHERE removed = 'none') b
  WHERE a.removed <> 'none'
)
SELECT channel,
       round(base, 6) AS base_pconv,
       round(pconv, 6) AS removed_pconv,
       CAST(re6 AS DOUBLE) AS removal_effect,
       round(CAST(re6 AS DOUBLE) / CAST(SUM(re6) OVER () AS DOUBLE), 6) AS attribution
FROM eff
ORDER BY channel"""
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# Hurst exponent via rescaled-range (R/S) analysis
# ---------------------------------------------------------------------------

_HURST_BLOCKS = (45, 90, 180, 360)


def _q_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the hourly event-count series by classic R/S
    analysis: for block sizes m in {45,90,180,360}, split the series
    into floor(T/m) blocks, compute each block's rescaled range
    R/S (range of the demeaned cumulative sum over the population
    std), average per m, and fit ln(R/S) = H ln(m) + c by OLS over the
    four points — H>0.5 = long memory, the forecastability diagnostic
    beside q_seasonal_strength.  The demeaned cumsum uses the exact
    integer m*cum - k*tot scaling (the q_drawdown trick), so R's
    numerator and the std moments are exact integers; each block's
    R/S is one double formula, per-m means sum ROUND-6 DECIMALS
    (order-free), and the final regression runs on 4 frozen points.
    Scale: one events hash aggregate + one window per block size over
    the ~720-row hourly grain."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select(
        F.floor(F.unix_millis("ts") / F.lit(3600000.0)).cast("long").alias("h")
    )
    hourly = ev.groupBy("h").agg(F.count(F.lit(1)).alias("y"))
    idx = hourly.select(
        "h", "y", (F.row_number().over(Window.orderBy("h")) - 1).alias("i")
    )
    # ONE pass for all block sizes: explode each hour across the 4 m's
    # with a tiny multiplier join, then a single (m, b)-partitioned
    # window — 4 separate union branches would re-derive the events
    # scan per m and pay 4x the stage overhead (measured 8.7s -> ~1s).
    mult = local_df(spark, [(m,) for m in _HURST_BLOCKS], "m int")
    blk = (
        idx.select(
            "y", "i", F.count(F.lit(1)).over(Window.partitionBy()).alias("t")
        )
        .crossJoin(F.broadcast(mult))
        .select(
            "y",
            "m",
            F.floor(F.col("i") / F.col("m")).cast("long").alias("b"),
            (F.col("i") % F.col("m")).alias("k"),
            F.col("t"),
        )
        .filter(F.col("b") < F.floor(F.col("t") / F.col("m")).cast("long"))
        .drop("t")
    )
    wb = Window.partitionBy("m", "b").orderBy("k")
    wall = Window.partitionBy("m", "b")
    scanned = blk.select(
        "m",
        "b",
        F.sum("y").over(
            wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
        F.row_number().over(wb).alias("kk"),
        F.sum("y").over(wall).alias("tot"),
        F.sum(F.col("y") * F.col("y")).over(wall).alias("totsq"),
    )
    dev = scanned.select(
        "m",
        "b",
        "tot",
        "totsq",
        (F.col("m") * F.col("cum") - F.col("kk") * F.col("tot")).alias("s"),
    )
    per_block = dev.groupBy("m", "b", "tot", "totsq").agg(
        F.max("s").alias("smax"), F.min("s").alias("smin")
    )
    md = F.col("m").cast(_D)
    r = (
        F.greatest(F.col("smax"), F.lit(0)).cast(_D)
        - F.least(F.col("smin"), F.lit(0)).cast(_D)
    ) / md
    s = F.sqrt(
        (md * F.col("totsq").cast(_D) - F.col("tot").cast(_D) * F.col("tot").cast(_D))
    ) / md
    per_m = per_block.select(
        "m",
        F.round(r / s, 6).cast("decimal(18,6)").alias("rs"),
    )
    mean_rs = per_m.groupBy("m").agg(
        F.count(F.lit(1)).alias("nb"),
        F.round(F.sum("rs").cast(_D) / F.count(F.lit(1)).cast(_D), 6).alias("mean_rs"),
    )
    pts = mean_rs.select(
        "m",
        "nb",
        "mean_rs",
        F.round(F.log(F.col("m").cast(_D)), 6).cast("decimal(18,6)").alias("x"),
        F.round(F.log("mean_rs"), 6).cast("decimal(18,6)").alias("yy"),
    )
    wall = Window.partitionBy()
    mom = pts.select(
        "*",
        F.count(F.lit(1)).over(wall).alias("np"),
        F.sum("x").over(wall).alias("sx"),
        F.sum("yy").over(wall).alias("sy"),
        F.sum(F.col("x") * F.col("yy")).over(wall).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(wall).alias("sxx"),
    )
    npd = F.col("np").cast(_D)
    hurst = (
        npd * F.col("sxy").cast(_D) - F.col("sx").cast(_D) * F.col("sy").cast(_D)
    ) / (npd * F.col("sxx").cast(_D) - F.col("sx").cast(_D) * F.col("sx").cast(_D))
    return mom.select(
        F.col("m").cast("int").alias("block_size"),
        F.col("nb").cast("bigint").alias("n_blocks"),
        F.col("mean_rs").cast(_D).alias("mean_rs"),
        F.round(hurst, 6).alias("hurst"),
    ).orderBy("block_size")


def _sql_hurst() -> str:
    blocks = []
    for m in _HURST_BLOCKS:
        blocks.append(
            f"""
  SELECT m, CAST(round(
    ((CASE WHEN smax > 0 THEN CAST(smax AS DOUBLE) ELSE 0 END
      - CASE WHEN smin < 0 THEN CAST(smin AS DOUBLE) ELSE 0 END) / CAST(m AS DOUBLE))
    / (sqrt(CAST(m AS DOUBLE) * CAST(totsq AS DOUBLE)
            - CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) / CAST(m AS DOUBLE)), 6)
    AS DECIMAL(18,6)) AS rs
  FROM (
    SELECT b, m, tot, totsq, MAX(s) AS smax, MIN(s) AS smin
    FROM (
      SELECT b, m, tot, totsq, m * cum - kk * tot AS s
      FROM (
        SELECT b, {m} AS m, y,
               SUM(y) OVER (PARTITION BY b ORDER BY k ROWS UNBOUNDED PRECEDING) AS cum,
               ROW_NUMBER() OVER (PARTITION BY b ORDER BY k) AS kk,
               SUM(y) OVER (PARTITION BY b) AS tot,
               SUM(y * y) OVER (PARTITION BY b) AS totsq
        FROM (
          SELECT y, (i // {m}) AS b, (i % {m}) AS k,
                 COUNT(*) OVER () AS t
          FROM idx
        ) WHERE b < t // {m}
      )
    ) GROUP BY 1, 2, 3, 4
  )"""
        )
    rs_union = "\n  UNION ALL\n".join(blocks)
    return f"""
WITH hourly AS (
  SELECT CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS h, COUNT(*) AS y
  FROM events GROUP BY 1
), idx AS MATERIALIZED (
  SELECT h, y, ROW_NUMBER() OVER (ORDER BY h) - 1 AS i FROM hourly
), rs AS MATERIALIZED ({rs_union}
), mean_rs AS (
  SELECT m, COUNT(*) AS nb,
         round(CAST(SUM(rs) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_rs
  FROM rs GROUP BY 1
), pts AS (
  SELECT m, nb, mean_rs,
         CAST(round(ln(CAST(m AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
         CAST(round(ln(mean_rs), 6) AS DECIMAL(18,6)) AS yy
  FROM mean_rs
), mom AS (
  SELECT *, COUNT(*) OVER () AS np,
         SUM(x) OVER () AS sx, SUM(yy) OVER () AS sy,
         SUM(x * yy) OVER () AS sxy, SUM(x * x) OVER () AS sxx
  FROM pts
)
SELECT CAST(m AS INT) AS block_size, CAST(nb AS BIGINT) AS n_blocks,
       CAST(mean_rs AS DOUBLE) AS mean_rs,
       round((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS hurst
FROM mom
ORDER BY block_size
"""


# ---------------------------------------------------------------------------
# funnel time-to-convert percentiles
# ---------------------------------------------------------------------------


def _q_funnel_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, seconds from first
    'view' to the first 'purchase' AFTER it, summarized as exact
    discrete P25/P50/P75/P90 over users plus the mean — the latency
    readout that turns q_funnel's step counts into durations.
    Latencies are exact integer seconds; the percentile picks use the
    compressed cumulative-rank pattern; the mean divides an exact
    integer sum once.  Scale: one per-user aggregate + one compressed
    quantile pass."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").filter(
        F.col("event_type").isin("view", "purchase")
    ).select("user_id", "event_type", F.unix_seconds(F.col("ts")).alias("sec"))
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("sec"))).alias("tv")
    )
    first_p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(per_user.filter(F.col("tv").isNotNull()), "user_id")
        .filter(F.col("sec") >= F.col("tv"))
        .groupBy("user_id", "tv")
        .agg(F.min("sec").alias("tp"))
        .select((F.col("tp") - F.col("tv")).alias("lat"))
    )
    per_v = first_p.groupBy("lat").agg(F.count(F.lit(1)).alias("cnt"))
    wc = Window.orderBy("lat").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = per_v.select(
        "lat",
        "cnt",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
        F.sum(F.col("lat") * F.col("cnt")).over(Window.partitionBy()).alias("s"),
    )

    def pick(q: int, alias: str):
        rank = F.expr(f"({q} * n + 99) div 100")
        return (
            cum.filter((rank > F.col("cum") - F.col("cnt")) & (rank <= F.col("cum")))
            .select(F.col("lat").alias(alias), F.col("n").alias(f"n_{alias}"),
                    F.col("s").alias(f"s_{alias}"))
        )

    out = (
        pick(25, "p25")
        .crossJoin(pick(50, "p50").select("p50"))
        .crossJoin(pick(75, "p75").select("p75"))
        .crossJoin(pick(90, "p90").select("p90"))
    )
    return out.select(
        F.col("n_p25").cast("bigint").alias("n_users"),
        F.col("p25").cast("bigint").alias("p25_secs"),
        F.col("p50").cast("bigint").alias("p50_secs"),
        F.col("p75").cast("bigint").alias("p75_secs"),
        F.col("p90").cast("bigint").alias("p90_secs"),
        F.round(F.col("s_p25").cast(_D) / F.col("n_p25").cast(_D), 2).alias(
            "mean_secs"
        ),
    )


_SQL_FUNNEL_TIME = """
WITH ev AS (
  SELECT user_id, event_type, epoch_ms(ts) // 1000 AS sec
  FROM events WHERE event_type IN ('view', 'purchase')
), per_user AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN sec END) AS tv
  FROM ev GROUP BY 1
), lats AS (
  SELECT e.user_id, MIN(e.sec) - p.tv AS lat
  FROM ev e JOIN per_user p USING (user_id)
  WHERE e.event_type = 'purchase' AND p.tv IS NOT NULL AND e.sec >= p.tv
  GROUP BY e.user_id, p.tv
), cum AS MATERIALIZED (
  SELECT lat, cnt,
         SUM(cnt) OVER (ORDER BY lat ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER () AS n,
         SUM(lat * cnt) OVER () AS s
  FROM (SELECT lat, COUNT(*) AS cnt FROM lats GROUP BY 1)
)
SELECT CAST(p25.n AS BIGINT) AS n_users,
       CAST(p25.lat AS BIGINT) AS p25_secs,
       CAST(p50.lat AS BIGINT) AS p50_secs,
       CAST(p75.lat AS BIGINT) AS p75_secs,
       CAST(p90.lat AS BIGINT) AS p90_secs,
       round(CAST(p25.s AS DOUBLE) / CAST(p25.n AS DOUBLE), 2) AS mean_secs
FROM (SELECT * FROM cum WHERE (25 * n + 99) // 100 > cum - cnt
                          AND (25 * n + 99) // 100 <= cum) p25
CROSS JOIN (SELECT lat FROM cum WHERE (50 * n + 99) // 100 > cum - cnt
                                  AND (50 * n + 99) // 100 <= cum) p50
CROSS JOIN (SELECT lat FROM cum WHERE (75 * n + 99) // 100 > cum - cnt
                                  AND (75 * n + 99) // 100 <= cum) p75
CROSS JOIN (SELECT lat FROM cum WHERE (90 * n + 99) // 100 > cum - cnt
                                  AND (90 * n + 99) // 100 <= cum) p90
"""


# ---------------------------------------------------------------------------
# Granger causality (lag-1): do views help predict purchases?
# ---------------------------------------------------------------------------


def _q_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Granger causality test of daily view counts on daily
    purchase counts: fit y_t ~ y_{t-1} (restricted) and y_t ~ y_{t-1}
    + x_{t-1} (unrestricted) by OLS and compare with the F statistic
    ((RSS_r - RSS_u)/1) / (RSS_u/(n-3)) — the standard
    does-one-series-help-forecast-another test.  All ten moments are
    exact integers from ONE aggregate over the lagged day frame; the
    unrestricted normal equations solve by 3x3 Cramer determinants
    (the q_ridge pattern) and each RSS collapses algebraically to
    Syy - sum(coef_i * rhs_i) — no residual pass.  Scale: one events
    rollup + two lag windows + a 1-row moment reduce."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("y"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("x"),
    )
    wd = Window.orderBy("day")
    lagged = daily.select(
        "y",
        F.lag("y").over(wd).alias("y1"),
        F.lag("x").over(wd).alias("x1"),
    ).filter(F.col("y1").isNotNull())
    mom = lagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum("y1").alias("sy1"),
        F.sum("x1").alias("sx1"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("y") * F.col("y1")).alias("syy1"),
        F.sum(F.col("y") * F.col("x1")).alias("syx1"),
        F.sum(F.col("y1") * F.col("y1")).alias("sy1y1"),
        F.sum(F.col("y1") * F.col("x1")).alias("sy1x1"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx1x1"),
    )
    nd = F.col("n").cast(_D)
    sy = F.col("sy").cast(_D)
    sy1 = F.col("sy1").cast(_D)
    sx1 = F.col("sx1").cast(_D)
    syy = F.col("syy").cast(_D)
    syy1 = F.col("syy1").cast(_D)
    syx1 = F.col("syx1").cast(_D)
    sy1y1 = F.col("sy1y1").cast(_D)
    sy1x1 = F.col("sy1x1").cast(_D)
    sx1x1 = F.col("sx1x1").cast(_D)
    # restricted: y ~ a + b*y1
    br = (nd * syy1 - sy1 * sy) / (nd * sy1y1 - sy1 * sy1)
    ar = (sy - br * sy1) / nd
    rss_r = syy - (ar * sy + br * syy1)
    # unrestricted: y ~ a + b*y1 + c*x1 via 3x3 Cramer
    det = (
        nd * (sy1y1 * sx1x1 - sy1x1 * sy1x1)
        - sy1 * (sy1 * sx1x1 - sy1x1 * sx1)
        + sx1 * (sy1 * sy1x1 - sy1y1 * sx1)
    )
    det_a = (
        sy * (sy1y1 * sx1x1 - sy1x1 * sy1x1)
        - sy1 * (syy1 * sx1x1 - sy1x1 * syx1)
        + sx1 * (syy1 * sy1x1 - sy1y1 * syx1)
    )
    det_b = (
        nd * (syy1 * sx1x1 - sy1x1 * syx1)
        - sy * (sy1 * sx1x1 - sy1x1 * sx1)
        + sx1 * (sy1 * syx1 - syy1 * sx1)
    )
    det_c = (
        nd * (sy1y1 * syx1 - syy1 * sy1x1)
        - sy1 * (sy1 * syx1 - syy1 * sx1)
        + sy * (sy1 * sy1x1 - sy1y1 * sx1)
    )
    au = det_a / det
    bu = det_b / det
    cu = det_c / det
    rss_u = syy - (au * sy + bu * syy1 + cu * syx1)
    fstat = (rss_r - rss_u) / (rss_u / (nd - 3.0))
    return mom.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(br, 6).alias("ar1_coef"),
        F.round(cu, 6).alias("x_lag_coef"),
        F.round(rss_r, 4).alias("rss_restricted"),
        F.round(rss_u, 4).alias("rss_unrestricted"),
        F.round(fstat, 6).alias("f_stat"),
    )


_SQL_GRANGER = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x
  FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1
), lagged AS (
  SELECT y, y1, x1 FROM (
    SELECT y, lag(y) OVER (ORDER BY day) AS y1, lag(x) OVER (ORDER BY day) AS x1
    FROM daily
  ) WHERE y1 IS NOT NULL
), mom AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(y) AS DOUBLE) AS sy, CAST(SUM(y1) AS DOUBLE) AS sy1,
         CAST(SUM(x1) AS DOUBLE) AS sx1,
         CAST(SUM(y * y) AS DOUBLE) AS syy,
         CAST(SUM(y * y1) AS DOUBLE) AS syy1,
         CAST(SUM(y * x1) AS DOUBLE) AS syx1,
         CAST(SUM(y1 * y1) AS DOUBLE) AS sy1y1,
         CAST(SUM(y1 * x1) AS DOUBLE) AS sy1x1,
         CAST(SUM(x1 * x1) AS DOUBLE) AS sx1x1,
         COUNT(*) AS n_int
  FROM lagged
), fit AS (
  SELECT *,
         (n * syy1 - sy1 * sy) / (n * sy1y1 - sy1 * sy1) AS br,
         (n * (sy1y1 * sx1x1 - sy1x1 * sy1x1)
          - sy1 * (sy1 * sx1x1 - sy1x1 * sx1)
          + sx1 * (sy1 * sy1x1 - sy1y1 * sx1)) AS det,
         (sy * (sy1y1 * sx1x1 - sy1x1 * sy1x1)
          - sy1 * (syy1 * sx1x1 - sy1x1 * syx1)
          + sx1 * (syy1 * sy1x1 - sy1y1 * syx1)) AS det_a,
         (n * (syy1 * sx1x1 - sy1x1 * syx1)
          - sy * (sy1 * sx1x1 - sy1x1 * sx1)
          + sx1 * (sy1 * syx1 - syy1 * sx1)) AS det_b,
         (n * (sy1y1 * syx1 - syy1 * sy1x1)
          - sy1 * (sy1 * syx1 - syy1 * sx1)
          + sy * (sy1 * sy1x1 - sy1y1 * sx1)) AS det_c
  FROM mom
), rss AS (
  SELECT *,
         syy - (((sy - br * sy1) / n) * sy + br * syy1) AS rss_r,
         syy - ((det_a / det) * sy + (det_b / det) * syy1
                + (det_c / det) * syx1) AS rss_u
  FROM fit
)
SELECT CAST(n_int AS BIGINT) AS n_days,
       round(br, 6) AS ar1_coef,
       round(det_c / det, 6) AS x_lag_coef,
       round(rss_r, 4) AS rss_restricted,
       round(rss_u, 4) AS rss_unrestricted,
       round((rss_r - rss_u) / (rss_u / (n - 3.0)), 6) AS f_stat
FROM rss
"""


# ---------------------------------------------------------------------------
# DAU / WAU stickiness
# ---------------------------------------------------------------------------


def _q_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day — the product
    engagement ratio (how many of this week's actives showed up
    today).  Distinct (day, user) pairs FIRST (the compression), then
    a 7-day band join re-counts distinct users per window end; both
    counts are exact integers and stickiness is one division.  Days
    with under 7 days of history are reported with their partial
    window (window_days says how many).  Scale: one distinct
    aggregate + a 7-wide band join on the day grain."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    du = ev.distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    days = dau.select(F.col("day").alias("d"))
    wau = (
        days.join(
            du,
            (F.col("day") <= F.col("d"))
            & (F.col("day") >= F.date_sub(F.col("d"), 6)),
        )
        .groupBy("d")
        .agg(
            F.countDistinct("user_id").alias("wau"),
            F.countDistinct("day").alias("window_days"),
        )
    )
    return (
        dau.join(wau, dau.day == wau.d)
        .select(
            "day",
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            F.col("window_days").cast("int").alias("window_days"),
            F.round(F.col("dau").cast(_D) / F.col("wau").cast(_D), 6).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


_SQL_DAU_WAU = """
WITH du AS MATERIALIZED (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
), dau AS (
  SELECT day, COUNT(*) AS dau FROM du GROUP BY 1
), wau AS (
  SELECT d.day AS d, COUNT(DISTINCT du.user_id) AS wau,
         COUNT(DISTINCT du.day) AS window_days
  FROM (SELECT DISTINCT day FROM du) d
  JOIN du ON du.day <= d.day AND du.day >= d.day - INTERVAL 6 DAY
  GROUP BY 1
)
SELECT dau.day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
       CAST(window_days AS INT) AS window_days,
       round(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE), 6) AS stickiness
FROM dau JOIN wau ON wau.d = dau.day
ORDER BY dau.day
"""


# ---------------------------------------------------------------------------
# rolling 7-day regression beta (windowed moments)
# ---------------------------------------------------------------------------

_RB_WIN = 7


def _q_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day regression slope of daily purchase value on daily
    view count: per day, the OLS beta over the trailing window from
    WINDOWED exact integer moments (sum, sum-of-products over a ROWS
    frame) — rolling regression without per-window refits, the
    streaming-friendly way.  Each day's beta and correlation are
    identically-parenthesized doubles over window sums.  Scale: one
    daily rollup + one 4-sum ROWS window."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("x"),
        (
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "purchase", money("value"))),
                F.lit(0),
            )
            * 100
        )
        .cast("long")
        .alias("y"),
    )
    w = Window.orderBy("day").rowsBetween(-(_RB_WIN - 1), Window.currentRow)
    mom = daily.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).over(w).alias("syy"),
    ).filter(F.col("n") == _RB_WIN)
    nd = F.col("n").cast(_D)
    cov = nd * F.col("sxy").cast(_D) - F.col("sx").cast(_D) * F.col("sy").cast(_D)
    vx = nd * F.col("sxx").cast(_D) - F.col("sx").cast(_D) * F.col("sx").cast(_D)
    vy = nd * F.col("syy").cast(_D) - F.col("sy").cast(_D) * F.col("sy").cast(_D)
    return mom.select(
        "day",
        F.col("n").cast("int").alias("window_n"),
        F.round(cov / vx / 100.0, 6).alias("beta"),
        F.round(cov / F.sqrt(vx * vy), 6).alias("corr"),
    ).orderBy("day")


_SQL_ROLLING_BETA = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(value AS DECIMAL(18,2)) END), 0) * 100
              AS BIGINT) AS y
  FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1
), mom AS (
  SELECT day,
         COUNT(*) OVER w AS n,
         SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
         SUM(x * y) OVER w AS sxy, SUM(x * x) OVER w AS sxx,
         SUM(CAST(y AS HUGEINT) * y) OVER w AS syy
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN {_RB_WIN - 1} PRECEDING AND CURRENT ROW)
)
SELECT day, CAST(n AS INT) AS window_n,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 100.0, 6) AS beta,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr
FROM mom WHERE n = {_RB_WIN}
ORDER BY day
"""


# ---------------------------------------------------------------------------
# Durbin-Watson autocorrelation of daily-revenue trend residuals
# ---------------------------------------------------------------------------


def _q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic of the residuals from the daily-revenue
    linear trend: DW = sum((e_t - e_{t-1})^2) / sum(e_t^2) — the
    serial-correlation check every forecasting fit needs.  The trend
    coefficients are frozen round-6 decimals, residuals round to
    integer cents, so both sums are exact integers and DW is one
    division; rho_hat = 1 - DW/2 rides along.  Scale: one daily
    rollup + one lag window + a 1-row reduce."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").filter(F.col("event_type") == "purchase")
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg((F.sum(money("value")) * 100).cast("long").alias("y"))
        .select(
            "day",
            "y",
            (F.row_number().over(Window.orderBy("day"))).alias("t"),
        )
    )
    mom = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
    )
    nd = F.col("n").cast(_D)
    b = (nd * F.col("sty").cast(_D) - F.col("st").cast(_D) * F.col("sy").cast(_D)) / (
        nd * F.col("stt").cast(_D) - F.col("st").cast(_D) * F.col("st").cast(_D)
    )
    a = (F.col("sy").cast(_D) - b * F.col("st").cast(_D)) / nd
    fit = mom.select(
        F.round(a, 6).cast("decimal(18,6)").alias("a"),
        F.round(b, 6).cast("decimal(18,6)").alias("b"),
    )
    resid = daily.crossJoin(F.broadcast(fit)).select(
        "day",
        F.round(F.col("y") - (F.col("a") + F.col("b") * F.col("t")), 0)
        .cast("long")
        .alias("e"),
    )
    lagd = resid.select(
        "e", F.lag("e").over(Window.orderBy("day")).alias("e1")
    )
    agg = lagd.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("e").cast("decimal(38,0)") * F.col("e")).alias("se2"),
        F.sum(
            F.when(
                F.col("e1").isNotNull(),
                (F.col("e") - F.col("e1")).cast("decimal(38,0)")
                * (F.col("e") - F.col("e1")),
            )
        ).alias("sd2"),
    )
    dw = F.col("sd2").cast(_D) / F.col("se2").cast(_D)
    return agg.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(dw, 6).alias("dw_stat"),
        F.round(1.0 - dw / 2.0, 6).alias("rho_hat"),
    )


_SQL_DURBIN_WATSON = """
WITH daily AS (
  SELECT day, y, ROW_NUMBER() OVER (ORDER BY day) AS t FROM (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
    FROM events WHERE event_type = 'purchase' GROUP BY 1
  )
), mom AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(t) AS DOUBLE) AS st, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(t * t) AS DOUBLE) AS stt, CAST(SUM(t * y) AS DOUBLE) AS sty
  FROM daily
), fit AS (
  SELECT CAST(round((sy - ((n * sty - st * sy) / (n * stt - st * st)) * st)
                    / n, 6) AS DECIMAL(18,6)) AS a,
         CAST(round((n * sty - st * sy) / (n * stt - st * st), 6)
              AS DECIMAL(18,6)) AS b
  FROM mom
), resid AS (
  SELECT day, CAST(round(y - (f.a + f.b * t), 0) AS BIGINT) AS e
  FROM daily CROSS JOIN fit f
), lagd AS (
  SELECT e, lag(e) OVER (ORDER BY day) AS e1 FROM resid
), agg AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(e AS HUGEINT) * e) AS se2,
         SUM(CASE WHEN e1 IS NOT NULL
                  THEN CAST(e - e1 AS HUGEINT) * (e - e1) END) AS sd2
  FROM lagd
)
SELECT CAST(n AS BIGINT) AS n_days,
       round(CAST(sd2 AS DOUBLE) / CAST(se2 AS DOUBLE), 6) AS dw_stat,
       round(1.0 - CAST(sd2 AS DOUBLE) / CAST(se2 AS DOUBLE) / 2.0, 6) AS rho_hat
FROM agg
"""


# ---------------------------------------------------------------------------
# two-change-point segmentation of the hourly series
# ---------------------------------------------------------------------------


def _q_changepoint2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares TWO-change-point segmentation of the hourly
    event-count series: the (k1 < k2) pair minimizing the 3-segment
    SSE, every candidate scored from the SAME exact-integer prefix
    sums (the q_changepoint machinery squared: a band self-join of
    the cumulative frame, ~|hours|^2/2 pairs on the COMPRESSED hourly
    grain — never a rescan per candidate).  One identically-
    parenthesized double formula per pair, argmin tie-broken on
    (k1, k2).  Scale: the pair join is bounded by the rollup grain
    (720 hours -> ~260k pairs), independent of raw event count."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select(
        F.floor(F.unix_millis("ts") / F.lit(3600000.0)).cast("long").alias("h")
    )
    hourly = ev.groupBy("h").agg(F.count(F.lit(1)).alias("y"))
    wc = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre = hourly.select(
        "h",
        F.row_number().over(Window.orderBy("h")).alias("k"),
        F.sum("y").over(wc).alias("cy"),
        F.sum(F.col("y") * F.col("y")).over(wc).alias("cyy"),
    )
    tot = hourly.agg(
        F.count(F.lit(1)).alias("hh"),
        F.sum("y").alias("ty"),
        F.sum(F.col("y") * F.col("y")).alias("tyy"),
    )
    p1 = pre.select(
        F.col("h").alias("h1"),
        F.col("k").alias("k1"),
        F.col("cy").alias("cy1"),
        F.col("cyy").alias("cyy1"),
    )
    p2 = pre.select(
        F.col("h").alias("h2"),
        F.col("k").alias("k2"),
        F.col("cy").alias("cy2"),
        F.col("cyy").alias("cyy2"),
    )
    pairs = (
        p1.join(p2, F.col("k1") < F.col("k2"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("k2") < F.col("hh"))
    )

    def seg(cyy_hi, cyy_lo, cy_hi, cy_lo, n):
        sd = (F.col(cy_hi) - (F.lit(0) if cy_lo is None else F.col(cy_lo))).cast(_D)
        qd = (F.col(cyy_hi) - (F.lit(0) if cyy_lo is None else F.col(cyy_lo))).cast(_D)
        return qd - sd * sd / n

    n1 = F.col("k1").cast(_D)
    n2 = (F.col("k2") - F.col("k1")).cast(_D)
    n3 = (F.col("hh") - F.col("k2")).cast(_D)
    sse = (
        (F.col("cyy1").cast(_D) - F.col("cy1").cast(_D) * F.col("cy1").cast(_D) / n1)
        + (
            (F.col("cyy2") - F.col("cyy1")).cast(_D)
            - (F.col("cy2") - F.col("cy1")).cast(_D)
            * (F.col("cy2") - F.col("cy1")).cast(_D)
            / n2
        )
        + (
            (F.col("tyy") - F.col("cyy2")).cast(_D)
            - (F.col("ty") - F.col("cy2")).cast(_D)
            * (F.col("ty") - F.col("cy2")).cast(_D)
            / n3
        )
    )
    best = (
        pairs.select("h1", "h2", "k1", "k2", "hh", "cy1", "cy2", "ty", sse.alias("sse"))
        .withColumn("rn", F.row_number().over(Window.orderBy("sse", "k1", "k2")))
        .filter(F.col("rn") == 1)
    )
    return best.select(
        F.col("h1").cast("bigint").alias("split1_hour"),
        F.col("h2").cast("bigint").alias("split2_hour"),
        F.round(F.col("cy1").cast(_D) / F.col("k1").cast(_D), 6).alias("mean_seg1"),
        F.round(
            (F.col("cy2") - F.col("cy1")).cast(_D)
            / (F.col("k2") - F.col("k1")).cast(_D),
            6,
        ).alias("mean_seg2"),
        F.round(
            (F.col("ty") - F.col("cy2")).cast(_D)
            / (F.col("hh") - F.col("k2")).cast(_D),
            6,
        ).alias("mean_seg3"),
        F.round(F.col("sse"), 6).alias("sse_best"),
    )


_SQL_CHANGEPOINT2 = """
WITH hourly AS (
  SELECT CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS h, COUNT(*) AS y
  FROM events GROUP BY 1
), pre AS MATERIALIZED (
  SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS k,
         SUM(y) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS cy,
         SUM(y * y) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS cyy
  FROM hourly
), tot AS (
  SELECT COUNT(*) AS hh, SUM(y) AS ty, SUM(y * y) AS tyy FROM hourly
), pairs AS (
  SELECT p1.h AS h1, p2.h AS h2, p1.k AS k1, p2.k AS k2,
         p1.cy AS cy1, p1.cyy AS cyy1, p2.cy AS cy2, p2.cyy AS cyy2,
         t.hh, t.ty, t.tyy,
         (CAST(p1.cyy AS DOUBLE)
          - CAST(p1.cy AS DOUBLE) * CAST(p1.cy AS DOUBLE) / CAST(p1.k AS DOUBLE))
         + (CAST(p2.cyy - p1.cyy AS DOUBLE)
            - CAST(p2.cy - p1.cy AS DOUBLE) * CAST(p2.cy - p1.cy AS DOUBLE)
              / CAST(p2.k - p1.k AS DOUBLE))
         + (CAST(t.tyy - p2.cyy AS DOUBLE)
            - CAST(t.ty - p2.cy AS DOUBLE) * CAST(t.ty - p2.cy AS DOUBLE)
              / CAST(t.hh - p2.k AS DOUBLE)) AS sse
  FROM pre p1
  JOIN pre p2 ON p1.k < p2.k
  CROSS JOIN tot t
  WHERE p2.k < t.hh
)
SELECT CAST(h1 AS BIGINT) AS split1_hour, CAST(h2 AS BIGINT) AS split2_hour,
       round(CAST(cy1 AS DOUBLE) / CAST(k1 AS DOUBLE), 6) AS mean_seg1,
       round(CAST(cy2 - cy1 AS DOUBLE) / CAST(k2 - k1 AS DOUBLE), 6) AS mean_seg2,
       round(CAST(ty - cy2 AS DOUBLE) / CAST(hh - k2 AS DOUBLE), 6) AS mean_seg3,
       round(sse, 6) AS sse_best
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY sse, k1, k2) AS rn FROM pairs
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Shewhart x-bar control chart on daily mean purchase value
# ---------------------------------------------------------------------------


def _q_spc_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart x-bar control chart on the daily mean purchase value:
    center line and 3-sigma limits from the grand moments (sigma of
    the daily means), each day flagged in- or out-of-control — the
    SPC monitor every data-quality pipeline wants.  Daily sums stay
    exact DECIMAL; each daily mean is one double division; the limits
    are frozen round-6 decimals broadcast to every day so the compare
    is engine-stable.  Scale: one daily rollup + one 30-row moment
    reduce + one broadcast."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("m"), F.sum(money("value")).alias("s")
    )
    means = daily.select(
        "day",
        "m",
        (F.col("s").cast(_D) / F.col("m").cast(_D)).alias("xbar"),
    )
    mom = means.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.round(F.col("xbar"), 6).cast("decimal(18,6)")).alias("sm"),
        F.sum(
            F.round(F.col("xbar"), 6).cast("decimal(18,6)")
            * F.round(F.col("xbar"), 6).cast("decimal(18,6)")
        ).alias("smm"),
    )
    kd = F.col("k").cast(_D)
    cl = F.col("sm").cast(_D) / kd
    sd = F.sqrt(
        (kd * F.col("smm").cast(_D) - F.col("sm").cast(_D) * F.col("sm").cast(_D))
        / (kd * (kd - 1.0))
    )
    limits = mom.select(
        F.round(cl, 6).cast("decimal(18,6)").alias("cl"),
        F.round(cl - 3.0 * sd, 6).cast("decimal(18,6)").alias("lcl"),
        F.round(cl + 3.0 * sd, 6).cast("decimal(18,6)").alias("ucl"),
    )
    flagged = means.crossJoin(F.broadcast(limits)).select(
        "day",
        F.col("m").cast("bigint").alias("n_obs"),
        F.round("xbar", 6).alias("daily_mean"),
        F.col("cl").cast(_D).alias("center"),
        F.col("lcl").cast(_D).alias("lcl"),
        F.col("ucl").cast(_D).alias("ucl"),
        (
            (F.round(F.col("xbar"), 6).cast("decimal(18,6)") < F.col("lcl"))
            | (F.round(F.col("xbar"), 6).cast("decimal(18,6)") > F.col("ucl"))
        ).alias("out_of_control"),
    )
    return flagged.orderBy("day")


_SQL_SPC_CHART = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS m,
         SUM(CAST(value AS DECIMAL(18,2))) AS s
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), means AS MATERIALIZED (
  SELECT day, m, CAST(s AS DOUBLE) / CAST(m AS DOUBLE) AS xbar FROM daily
), mom AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS k,
         SUM(CAST(round(xbar, 6) AS DECIMAL(18,6))) AS sm,
         SUM(CAST(round(xbar, 6) AS DECIMAL(18,6))
             * CAST(round(xbar, 6) AS DECIMAL(18,6))) AS smm
  FROM means
), limits AS (
  SELECT CAST(round(CAST(sm AS DOUBLE) / k, 6) AS DECIMAL(18,6)) AS cl,
         CAST(round(CAST(sm AS DOUBLE) / k
                    - 3.0 * sqrt((k * CAST(smm AS DOUBLE)
                                  - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))
                                 / (k * (k - 1.0))), 6) AS DECIMAL(18,6)) AS lcl,
         CAST(round(CAST(sm AS DOUBLE) / k
                    + 3.0 * sqrt((k * CAST(smm AS DOUBLE)
                                  - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))
                                 / (k * (k - 1.0))), 6) AS DECIMAL(18,6)) AS ucl
  FROM mom
)
SELECT day, CAST(m AS BIGINT) AS n_obs,
       round(xbar, 6) AS daily_mean,
       CAST(cl AS DOUBLE) AS center,
       CAST(lcl AS DOUBLE) AS lcl,
       CAST(ucl AS DOUBLE) AS ucl,
       (CAST(round(xbar, 6) AS DECIMAL(18,6)) < lcl
        OR CAST(round(xbar, 6) AS DECIMAL(18,6)) > ucl) AS out_of_control
FROM means CROSS JOIN limits
ORDER BY day
"""


# ---------------------------------------------------------------------------
# OHLCV candles: the time-bucket rollup every market/telemetry store does
# ---------------------------------------------------------------------------


def _q_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLCV candles per event type: open/close are
    arg-extremes of (ts, event_id) via min/max-of-struct (ONE
    partial+final aggregate — no window, the q_argmax idiom), high/low/
    volume are plain extremes/sums of exact integer cents.  One shuffle
    on (event_type, hour); at any scale the state per group is one
    struct, so map-side combine collapses the fact table early."""
    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["event_id", "event_type", "ts", "value"])
    ms = F.unix_millis(F.col("ts"))
    cents = (money("value") * 100).cast("long")
    pts = ev.select(
        "event_type",
        F.floor(ms / F.lit(3600000.0)).cast("long").alias("h"),
        ms.alias("ms"),
        "event_id",
        cents.alias("cents"),
    )
    g = pts.groupBy("event_type", "h").agg(
        F.min(F.struct("ms", "event_id", "cents")).alias("o"),
        F.max(F.struct("ms", "event_id", "cents")).alias("c"),
        F.max("cents").alias("hi"),
        F.min("cents").alias("lo"),
        F.count(F.lit(1)).alias("n_trades"),
        F.sum("cents").alias("vol_cents"),
    )
    return g.select(
        "event_type",
        "h",
        (F.col("o.cents") / 100.0).alias("open"),
        (F.col("hi") / 100.0).alias("high"),
        (F.col("lo") / 100.0).alias("low"),
        (F.col("c.cents") / 100.0).alias("close"),
        "n_trades",
        (F.col("vol_cents") / 100.0).alias("volume"),
    ).orderBy("event_type", "h")


_SQL_OHLC = """
WITH pts AS (
  SELECT event_type,
         CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS h,
         epoch_ms(ts) AS ms, event_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
)
SELECT event_type, h,
       (MIN({'a': ms, 'b': event_id, 'c': cents})).c / 100.0 AS open,
       MAX(cents) / 100.0 AS high,
       MIN(cents) / 100.0 AS low,
       (MAX({'a': ms, 'b': event_id, 'c': cents})).c / 100.0 AS close,
       COUNT(*) AS n_trades,
       SUM(cents) / 100.0 AS volume
FROM pts
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# Bollinger bands: rolling mean +- 2 sigma over the daily value series
# ---------------------------------------------------------------------------


def _q_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day Bollinger bands over the daily purchase-value series:
    rolling mean +- 2 sample standard deviations, full windows only.
    The window carries exact integer sums (cents and squared cents —
    DECIMAL(38,0) accumulator); mean/var/bands are double formulas with
    identical parenthesization both engines, so sqrt sees bit-equal
    input.  One shuffle (daily agg) + one ordered window."""
    cat = Catalog(sf_dir)
    ev = scan(
        spark, cat, "events", ["ts", "event_type", "value"],
        predicates=[F.col("event_type") == "purchase"],
    )
    cents = (money("value") * 100).cast("long")
    daily = ev.groupBy(
        F.floor(F.unix_millis(F.col("ts")) / F.lit(86400000.0)).cast("long").alias("d")
    ).agg(F.sum(cents).alias("x"))
    w = Window.orderBy("d").rowsBetween(-6, 0)
    rolled = daily.select(
        "d",
        (F.col("x") / 100.0).alias("day_value"),
        F.count(F.lit(1)).over(w).alias("k"),
        F.sum("x").over(w).cast(_D).alias("sw"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).over(w).cast(_D).alias("sww"),
    ).filter(F.col("k") == 7)
    m = F.col("sw") / 7.0
    var = (7.0 * F.col("sww") - F.col("sw") * F.col("sw")) / (7.0 * 6.0)
    sd = F.sqrt(var)
    return rolled.select(
        "d",
        "day_value",
        (m / 100.0).alias("mean7"),
        ((m + 2.0 * sd) / 100.0).alias("upper"),
        ((m - 2.0 * sd) / 100.0).alias("lower"),
    ).orderBy("d")


_SQL_BOLLINGER = """
WITH daily AS (
  SELECT CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS d,
         SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
), rolled AS (
  SELECT d, x / 100.0 AS day_value,
         COUNT(*) OVER w AS k,
         CAST(SUM(x) OVER w AS DOUBLE) AS sw,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) OVER w AS DOUBLE) AS sww
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT d, day_value,
       (sw / 7.0) / 100.0 AS mean7,
       ((sw / 7.0) + 2.0 * sqrt((7.0 * sww - sw * sw) / (7.0 * 6.0))) / 100.0 AS upper,
       ((sw / 7.0) - 2.0 * sqrt((7.0 * sww - sw * sw) / (7.0 * 6.0))) / 100.0 AS lower
FROM rolled WHERE k = 7
ORDER BY d
"""


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau test on the hourly event-count series
# ---------------------------------------------------------------------------

_LB_LAGS = 6


def _q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box Q statistic (m=6 lags) on the hourly event-count
    series: Q = n(n+2) * sum_k r_k^2/(n-k), with the STANDARD
    fixed-mean autocorrelation estimator r_k (global x-bar, full-series
    denominator) — the whiteness test run on residuals before trusting
    a forecating model, beside q_acf's per-lag Pearson view.  All
    sums are exact integers (counts); r_k is a double formula with
    identical parenthesization; each r_k^2/(n-k) term is frozen to
    DECIMAL(18,6) before the sum.  One hourly aggregate, one ordered
    lead window, one 1-row reduce."""
    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["ts"])
    hourly = (
        ev.groupBy(
            F.floor(F.unix_millis(F.col("ts")) / F.lit(3600000.0)).cast("long").alias("h")
        )
        .agg(F.count(F.lit(1)).alias("x"))
    )
    w = Window.orderBy("h")
    lead_cols = [F.lead("x", k).over(w).alias(f"y{k}") for k in range(1, _LB_LAGS + 1)]
    frame = hourly.select("x", *lead_cols)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    ]
    for k in range(1, _LB_LAGS + 1):
        y = F.col(f"y{k}")
        cond = y.isNotNull()
        aggs += [
            F.sum(F.when(cond, F.col("x").cast("decimal(38,0)") * y)).alias(f"sxy{k}"),
            F.sum(F.when(cond, F.col("x"))).alias(f"sa{k}"),
            F.sum(F.when(cond, y)).alias(f"sb{k}"),
        ]
    mrow = frame.agg(*aggs)
    n = F.col("n").cast(_D)
    xbar = F.col("sx").cast(_D) / n
    den = F.col("sxx").cast(_D) - n * xbar * xbar
    terms = []
    for k in range(1, _LB_LAGS + 1):
        nk = n - F.lit(float(k))
        num = (
            F.col(f"sxy{k}").cast(_D)
            - xbar * (F.col(f"sa{k}").cast(_D) + F.col(f"sb{k}").cast(_D))
            + nk * xbar * xbar
        )
        r = num / den
        terms.append(F.round(r * r / nk, 6).cast("decimal(18,6)"))
    ssum = terms[0]
    for t in terms[1:]:
        ssum = ssum + t
    return mrow.select(
        F.col("n").cast("bigint").alias("n_buckets"),
        F.lit(_LB_LAGS).cast("int").alias("m_lags"),
        F.round(n * (n + 2.0) * ssum.cast(_D), 4).alias("q_stat"),
    )


def _sql_ljung_box() -> str:
    sxy = ", ".join(
        f"SUM(CASE WHEN y{k} IS NOT NULL THEN CAST(x AS DECIMAL(38,0)) * y{k} END) AS sxy{k}, "
        f"SUM(CASE WHEN y{k} IS NOT NULL THEN x END) AS sa{k}, "
        f"SUM(CASE WHEN y{k} IS NOT NULL THEN y{k} END) AS sb{k}"
        for k in range(1, _LB_LAGS + 1)
    )
    leads = ", ".join(
        f"LEAD(x, {k}) OVER (ORDER BY h) AS y{k}" for k in range(1, _LB_LAGS + 1)
    )
    term = " + ".join(
        "CAST(round(((CAST(sxy{k} AS DOUBLE)"
        " - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sa{k} AS DOUBLE) + CAST(sb{k} AS DOUBLE))"
        " + (CAST(n AS DOUBLE) - {kf}) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))"
        " / (CAST(sxx AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))"
        " * ((CAST(sxy{k} AS DOUBLE)"
        " - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sa{k} AS DOUBLE) + CAST(sb{k} AS DOUBLE))"
        " + (CAST(n AS DOUBLE) - {kf}) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))"
        " / (CAST(sxx AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))"
        " / (CAST(n AS DOUBLE) - {kf}), 6) AS DECIMAL(18,6))".format(k=k, kf=f"{float(k)}")
        for k in range(1, _LB_LAGS + 1)
    )
    return f"""
WITH hourly AS (
  SELECT CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS h, COUNT(*) AS x
  FROM events GROUP BY 1
), frame AS (
  SELECT x, {leads} FROM hourly
), mom AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx,
         SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx, {sxy}
  FROM frame
)
SELECT CAST(n AS BIGINT) AS n_buckets,
       CAST({_LB_LAGS} AS INT) AS m_lags,
       round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
             * CAST(({term}) AS DOUBLE), 4) AS q_stat
FROM mom
"""


# ---------------------------------------------------------------------------
# Chow structural-break test on the daily revenue trend
# ---------------------------------------------------------------------------

def _q_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow test: does the daily-revenue-on-time OLS trend break at the
    series midpoint?  Pooled and per-segment fits use the frozen
    round-6 coefficient pattern (q_breusch_pagan): coefficients from
    exact integer moments, residuals rounded once to whole cents, RSS
    as exact HUGEINT sums, the F statistic one double formula.
    Scale: one daily rollup, three 1-row moment reduces, one
    residual pass."""
    cat = Catalog(sf_dir)
    ev = scan(
        spark, cat, "events", ["ts", "event_type", "value"],
        predicates=[F.col("event_type") == "purchase"],
    )
    cents = (money("value") * 100).cast("long")
    daily = ev.groupBy(
        F.floor(F.unix_millis(F.col("ts")) / F.lit(86400000.0)).cast("long").alias("d")
    ).agg(F.sum(cents).alias("y"))
    w = Window.orderBy("d")
    seq = daily.select("d", "y", F.row_number().over(w).alias("t"))
    nrow = seq.agg(F.count(F.lit(1)).alias("n_all"))
    seq = seq.crossJoin(F.broadcast(nrow)).withColumn(
        "seg", (F.col("t") * 2 > F.col("n_all")).cast("int")  # 0 first half, 1 second
    )

    def fit(df):
        mom = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("t").alias("st"),
            F.sum("y").alias("sy"),
            F.sum(F.col("t").cast("decimal(38,0)") * F.col("t")).alias("stt"),
            F.sum(F.col("t").cast("decimal(38,0)") * F.col("y")).alias("sty"),
        )
        nd = F.col("n").cast(_D)
        b = (nd * F.col("sty").cast(_D) - F.col("st").cast(_D) * F.col("sy").cast(_D)) / (
            nd * F.col("stt").cast(_D) - F.col("st").cast(_D) * F.col("st").cast(_D)
        )
        a = (F.col("sy").cast(_D) - b * F.col("st").cast(_D)) / nd
        return mom.select(
            F.round(a, 6).cast("decimal(18,6)").alias("a"),
            F.round(b, 6).cast("decimal(18,6)").alias("b"),
        )

    def rss(df, coefs):
        e = F.round(
            F.col("y") - (F.col("a") + F.col("b") * F.col("t")), 0
        ).cast("long")
        return (
            df.crossJoin(F.broadcast(coefs))
            .select((e.cast("decimal(38,0)") * e).alias("e2"))
            .agg(F.sum("e2").alias("rss"))
        )

    pooled = rss(seq, fit(seq)).select(F.col("rss").alias("rss_p"))
    r1 = rss(seq.filter("seg = 0"), fit(seq.filter("seg = 0"))).select(
        F.col("rss").alias("rss_1")
    )
    r2 = rss(seq.filter("seg = 1"), fit(seq.filter("seg = 1"))).select(
        F.col("rss").alias("rss_2")
    )
    j = pooled.crossJoin(r1).crossJoin(r2).crossJoin(F.broadcast(nrow))
    n = F.col("n_all").cast(_D)
    rp, ra, rb = (F.col(c).cast(_D) for c in ("rss_p", "rss_1", "rss_2"))
    fstat = ((rp - (ra + rb)) / 2.0) / ((ra + rb) / (n - 4.0))
    return j.select(
        F.col("n_all").cast("bigint").alias("n_days"),
        F.round(fstat, 4).alias("f_stat"),
    )


def _sql_chow_test() -> str:
    fit = """
  SELECT CAST(round((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
              - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
              - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))) * CAST(st AS DOUBLE))
            / CAST(n AS DOUBLE), 6) AS DECIMAL(18,6)) AS a,
         CAST(round((CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
              - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
              - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)), 6) AS DECIMAL(18,6)) AS b
  FROM {mom}"""
    mom = """(SELECT COUNT(*) AS n, SUM(t) AS st, SUM(y) AS sy,
                  SUM(CAST(t AS DECIMAL(38,0)) * t) AS stt,
                  SUM(CAST(t AS DECIMAL(38,0)) * y) AS sty
           FROM {src})"""
    return f"""
WITH daily AS (
  SELECT CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS d,
         SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS y
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
), seq AS (
  SELECT d, y, ROW_NUMBER() OVER (ORDER BY d) AS t,
         COUNT(*) OVER () AS n_all
  FROM daily
), seq2 AS (
  SELECT *, CASE WHEN t * 2 > n_all THEN 1 ELSE 0 END AS seg FROM seq
), fit_p AS ({fit.format(mom=mom.format(src='seq2'))}),
fit_1 AS ({fit.format(mom=mom.format(src='(SELECT * FROM seq2 WHERE seg = 0)'))}),
fit_2 AS ({fit.format(mom=mom.format(src='(SELECT * FROM seq2 WHERE seg = 1)'))}),
rss_p AS (
  SELECT SUM(CAST(CAST(round(y - (a + b * t), 0) AS BIGINT) AS DECIMAL(38,0))
             * CAST(round(y - (a + b * t), 0) AS BIGINT)) AS rss
  FROM seq2 CROSS JOIN fit_p
), rss_1 AS (
  SELECT SUM(CAST(CAST(round(y - (a + b * t), 0) AS BIGINT) AS DECIMAL(38,0))
             * CAST(round(y - (a + b * t), 0) AS BIGINT)) AS rss
  FROM seq2 CROSS JOIN fit_1 WHERE seg = 0
), rss_2 AS (
  SELECT SUM(CAST(CAST(round(y - (a + b * t), 0) AS BIGINT) AS DECIMAL(38,0))
             * CAST(round(y - (a + b * t), 0) AS BIGINT)) AS rss
  FROM seq2 CROSS JOIN fit_2 WHERE seg = 1
)
SELECT CAST((SELECT MAX(n_all) FROM seq2) AS BIGINT) AS n_days,
       round(((CAST(rss_p.rss AS DOUBLE) - (CAST(rss_1.rss AS DOUBLE) + CAST(rss_2.rss AS DOUBLE))) / 2.0)
             / ((CAST(rss_1.rss AS DOUBLE) + CAST(rss_2.rss AS DOUBLE))
                / (CAST((SELECT MAX(n_all) FROM seq2) AS DOUBLE) - 4.0)), 4) AS f_stat
FROM rss_p, rss_1, rss_2
"""


# ---------------------------------------------------------------------------
# Engle-Granger cointegration (two-step, Dickey-Fuller on residuals)
# ---------------------------------------------------------------------------


def _q_engle_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger two-step cointegration probe: daily purchase
    revenue regressed on daily view counts (frozen round-6
    coefficients -> exact integer-cent residuals), then the
    no-intercept Dickey-Fuller regression of delta-e on lag-e over the
    residual series.  All residual moments are exact HUGEINT sums; the
    DF t statistic is one double formula.  Scale: one daily rollup,
    one moment reduce, one lag window, one residual-moment reduce."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    cents = (money("value") * 100).cast("long")
    daily = ev.groupBy(
        F.floor(F.unix_millis(F.col("ts")) / F.lit(86400000.0)).cast("long").alias("d")
    ).agg(
        F.sum(F.when(F.col("event_type") == "purchase", cents).otherwise(0)).alias("y"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("x"),
    )
    mom = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast(_D)
    b = (nd * F.col("sxy").cast(_D) - F.col("sx").cast(_D) * F.col("sy").cast(_D)) / (
        nd * F.col("sxx").cast(_D) - F.col("sx").cast(_D) * F.col("sx").cast(_D)
    )
    a = (F.col("sy").cast(_D) - b * F.col("sx").cast(_D)) / nd
    fit = mom.select(
        F.col("n"),
        F.round(a, 6).cast("decimal(18,6)").alias("a"),
        F.round(b, 6).cast("decimal(18,6)").alias("b"),
    )
    resid = daily.crossJoin(F.broadcast(fit)).select(
        "d",
        "n",
        F.round(F.col("y") - (F.col("a") + F.col("b") * F.col("x")), 0)
        .cast("long")
        .alias("e"),
    )
    w = Window.orderBy("d")
    pairs = resid.select(
        "n", "e", F.lag("e", 1).over(w).alias("el")
    ).filter(F.col("el").isNotNull())
    dfm = pairs.agg(
        F.max("n").alias("n_days"),
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("el").cast("decimal(38,0)") * (F.col("e") - F.col("el"))).alias("sed"),
        F.sum(F.col("el").cast("decimal(38,0)") * F.col("el")).alias("see"),
        F.sum(
            (F.col("e") - F.col("el")).cast("decimal(38,0)") * (F.col("e") - F.col("el"))
        ).alias("sdd"),
    )
    m = F.col("m").cast(_D)
    rho = F.col("sed").cast(_D) / F.col("see").cast(_D)
    s2 = (F.col("sdd").cast(_D) - rho * F.col("sed").cast(_D)) / (m - 1.0)
    tstat = rho / F.sqrt(s2 / F.col("see").cast(_D))
    return dfm.select(
        F.col("n_days").cast("bigint").alias("n_days"),
        F.round(rho, 6).alias("rho"),
        F.round(tstat, 4).alias("df_t_stat"),
    )


_SQL_ENGLE_GRANGER = """
WITH daily AS (
  SELECT CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS d,
         SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                  ELSE 0 END) AS y,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1
), mom AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
         SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
  FROM daily
), fit AS (
  SELECT n,
         CAST(round((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE), 6) AS DECIMAL(18,6)) AS a,
         CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS DECIMAL(18,6)) AS b
  FROM mom
), resid AS (
  SELECT d, n, CAST(round(y - (a + b * x), 0) AS BIGINT) AS e
  FROM daily CROSS JOIN fit
), pairs AS (
  SELECT n, e, LAG(e, 1) OVER (ORDER BY d) AS el FROM resid
  QUALIFY el IS NOT NULL
), dfm AS (
  SELECT MAX(n) AS n_days, COUNT(*) AS m,
         SUM(CAST(el AS DECIMAL(38,0)) * (e - el)) AS sed,
         SUM(CAST(el AS DECIMAL(38,0)) * el) AS see,
         SUM(CAST(e - el AS DECIMAL(38,0)) * (e - el)) AS sdd
  FROM pairs
)
SELECT CAST(n_days AS BIGINT) AS n_days,
       round(CAST(sed AS DOUBLE) / CAST(see AS DOUBLE), 6) AS rho,
       round((CAST(sed AS DOUBLE) / CAST(see AS DOUBLE))
             / sqrt(((CAST(sdd AS DOUBLE)
                      - (CAST(sed AS DOUBLE) / CAST(see AS DOUBLE)) * CAST(sed AS DOUBLE))
                     / (CAST(m AS DOUBLE) - 1.0)) / CAST(see AS DOUBLE)), 4) AS df_t_stat
FROM dfm
"""


# ---------------------------------------------------------------------------
# Croston's method for intermittent demand
# ---------------------------------------------------------------------------

_CROSTON_TOPK = 20


def _q_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's intermittent-demand estimate per part (flat-average
    form): mean nonzero daily demand / mean inter-demand interval —
    the forecasting primitive for sparse SKU series where plain moving
    averages collapse to ~0.  Demand days, sizes, and spans are exact
    integers; one double division per part; top-20 parts by demand-day
    count (ties on partkey) keep the output bounded.  Scale: one
    (part, day) rollup + one per-part aggregate."""
    cat = Catalog(sf_dir)
    li = scan(spark, cat, "lineitem", ["l_partkey", "l_shipdate", "l_quantity"])
    daily = li.groupBy(
        "l_partkey",
        F.floor(F.unix_millis(F.col("l_shipdate")) / F.lit(86400000.0))
        .cast("long")
        .alias("d"),
    ).agg(F.sum(money("l_quantity") * 100).cast("long").alias("q"))
    per = daily.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("q").alias("sq"),
        F.min("d").alias("d0"),
        F.max("d").alias("d1"),
    ).filter(F.col("k") >= 2)
    ranked = per.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("k"), "l_partkey"))
    ).filter(F.col("rn") <= _CROSTON_TOPK)
    size = F.col("sq").cast(_D) / F.col("k").cast(_D) / 100.0
    interval = (F.col("d1") - F.col("d0")).cast(_D) / (F.col("k").cast(_D) - 1.0)
    return ranked.select(
        F.col("l_partkey").alias("partkey"),
        F.col("k").alias("n_demand_days"),
        F.round(size, 6).alias("mean_size"),
        F.round(interval, 6).alias("mean_interval"),
        F.round(size / interval, 6).alias("croston_rate"),
    ).orderBy(F.desc("n_demand_days"), "partkey")


_SQL_CROSTON = f"""
WITH daily AS (
  SELECT l_partkey, CAST(floor(epoch_ms(l_shipdate) / 86400000.0) AS BIGINT) AS d,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * 100) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
), per AS (
  SELECT l_partkey, COUNT(*) AS k, SUM(q) AS sq, MIN(d) AS d0, MAX(d) AS d1
  FROM daily GROUP BY 1
  HAVING COUNT(*) >= 2
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY k DESC, l_partkey) AS rn FROM per
)
SELECT l_partkey AS partkey,
       k AS n_demand_days,
       round(CAST(sq AS DOUBLE) / CAST(k AS DOUBLE) / 100.0, 6) AS mean_size,
       round(CAST(d1 - d0 AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0), 6) AS mean_interval,
       round((CAST(sq AS DOUBLE) / CAST(k AS DOUBLE) / 100.0)
             / (CAST(d1 - d0 AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0)), 6) AS croston_rate
FROM ranked WHERE rn <= {_CROSTON_TOPK}
ORDER BY n_demand_days DESC, partkey
"""


# ---------------------------------------------------------------------------
# Page-Hinkley sequential drift detection
# ---------------------------------------------------------------------------


def _q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift statistic over the daily purchase-revenue
    series: U_t = sum_{s<=t}(x_s - xbar_s), PH_t = U_t - min_{s<=t}U_s,
    reported at its maximum (the day a mean shift is most evident).
    Each term x_s - xbar_s is computed from exact integer prefix sums
    (x_s*s - cum_s is exact; divide once), frozen to DECIMAL(18,6), and
    the running U/min/max are decimal window aggregates — order-free
    and engine-identical.  Scale: one daily rollup + three ordered
    windows over the |days|-bounded series."""
    cat = Catalog(sf_dir)
    ev = scan(
        spark, cat, "events", ["ts", "event_type", "value"],
        predicates=[F.col("event_type") == "purchase"],
    )
    cents = (money("value") * 100).cast("long")
    daily = ev.groupBy(
        F.floor(F.unix_millis(F.col("ts")) / F.lit(86400000.0)).cast("long").alias("d")
    ).agg(F.sum(cents).alias("x"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre = daily.select(
        "d",
        "x",
        F.count(F.lit(1)).over(w).alias("t"),
        F.sum("x").over(w).alias("cx"),
    )
    # x_s - cum/t in cents, exact numerator, one division, frozen
    term = F.round(
        (F.col("x").cast(_D) * F.col("t").cast(_D) - F.col("cx").cast(_D))
        / F.col("t").cast(_D)
        / 100.0,
        6,
    ).cast("decimal(18,6)")
    u = pre.select("d", term.alias("term")).select(
        "d", F.sum("term").over(w).alias("u")
    )
    ph = u.select("d", (F.col("u") - F.min("u").over(w)).alias("ph"))
    top = ph.orderBy(F.desc("ph"), "d").limit(1)
    return top.select(
        F.col("d").alias("drift_day"),
        F.round(F.col("ph").cast(_D), 6).alias("ph_stat"),
    )


_SQL_PAGE_HINKLEY = """
WITH daily AS (
  SELECT CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS d,
         SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
), pre AS (
  SELECT d, x,
         COUNT(*) OVER w AS t,
         SUM(x) OVER w AS cx
  FROM daily
  WINDOW w AS (ORDER BY d ROWS UNBOUNDED PRECEDING)
), terms AS (
  SELECT d,
         CAST(round((CAST(x AS DOUBLE) * CAST(t AS DOUBLE) - CAST(cx AS DOUBLE))
                    / CAST(t AS DOUBLE) / 100.0, 6) AS DECIMAL(18,6)) AS term
  FROM pre
), u AS (
  SELECT d, SUM(term) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS u FROM terms
), ph AS (
  SELECT d, u - MIN(u) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS ph FROM u
)
SELECT d AS drift_day, round(CAST(ph AS DOUBLE), 6) AS ph_stat
FROM ph ORDER BY ph DESC, d LIMIT 1
"""


# ---------------------------------------------------------------------------
# Sign test on week-over-week daily revenue
# ---------------------------------------------------------------------------


def _q_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign test: is daily purchase revenue systematically above
    its level 7 days earlier?  Counts positive/negative week-over-week
    differences (zeros dropped, the standard treatment) and the
    continuity-corrected chi-square (|pos-neg|-1)^2/(pos+neg) — pure
    integers until one division.  Scale: one daily rollup + one lag
    window + a 1-row reduce."""
    cat = Catalog(sf_dir)
    ev = scan(
        spark, cat, "events", ["ts", "event_type", "value"],
        predicates=[F.col("event_type") == "purchase"],
    )
    cents = (money("value") * 100).cast("long")
    daily = ev.groupBy(
        F.floor(F.unix_millis(F.col("ts")) / F.lit(86400000.0)).cast("long").alias("d")
    ).agg(F.sum(cents).alias("x"))
    w = Window.orderBy("d")
    pairs = daily.select("d", "x", F.lag("x", 7).over(w).alias("xl")).filter(
        F.col("xl").isNotNull() & (F.col("x") != F.col("xl"))
    )
    agg = pairs.agg(
        F.sum(F.when(F.col("x") > F.col("xl"), 1).otherwise(0)).alias("pos"),
        F.sum(F.when(F.col("x") < F.col("xl"), 1).otherwise(0)).alias("neg"),
    )
    diff = F.abs(F.col("pos") - F.col("neg")) - 1
    chi2 = (diff * diff).cast(_D) / (F.col("pos") + F.col("neg")).cast(_D)
    return agg.select(
        "pos", "neg", F.round(chi2, 6).alias("chi2_cc")
    )


_SQL_SIGN_TEST = """
WITH daily AS (
  SELECT CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS d,
         SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
), pairs AS (
  SELECT d, x, LAG(x, 7) OVER (ORDER BY d) AS xl FROM daily
  QUALIFY xl IS NOT NULL AND x <> xl
), agg AS (
  SELECT SUM(CASE WHEN x > xl THEN 1 ELSE 0 END) AS pos,
         SUM(CASE WHEN x < xl THEN 1 ELSE 0 END) AS neg
  FROM pairs
)
SELECT pos, neg,
       round(CAST((ABS(pos - neg) - 1) * (ABS(pos - neg) - 1) AS DOUBLE)
             / CAST(pos + neg AS DOUBLE), 6) AS chi2_cc
FROM agg
"""


# ---------------------------------------------------------------------------
# Time-decay popularity with an EXACT half-life kernel
# ---------------------------------------------------------------------------

_DECAY_TOPK = 20


def _q_decay_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life time-decay popularity per part: each shipment
    contributes 2^-(weeks_old) (capped at 2^-20), the
    recency-weighted demand signal a ranking/replenishment pipeline
    maintains.  The kernel is a POWER OF TWO of an integer exponent —
    exactly representable in both engines, unlike exp(-lambda*t) whose
    libm ulps differ — frozen to round-6 decimals so the per-part sum
    is order-free.  Scale: one broadcast max-date, one map-only term
    projection, one part rollup."""
    cat = Catalog(sf_dir)
    li = scan(spark, cat, "lineitem", ["l_partkey", "l_shipdate"])
    days = F.floor(F.unix_millis(F.col("l_shipdate")) / F.lit(86400000.0)).cast("long")
    mx = li.agg(F.max(days).alias("mxd"))
    w = F.least(((F.col("mxd") - F.col("d")) / 7).cast("long"), F.lit(20))
    term = F.round(F.pow(F.lit(2.0), -w.cast(_D)), 6).cast("decimal(18,6)")
    scored = (
        li.select("l_partkey", days.alias("d"))
        .crossJoin(F.broadcast(mx))
        .select("l_partkey", term.alias("term"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_shipments"), F.sum("term").alias("score_dec"))
    )
    top = scored.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("score_dec"), "l_partkey"))
    ).filter(F.col("rn") <= _DECAY_TOPK)
    return top.select(
        F.col("l_partkey").alias("partkey"),
        "n_shipments",
        F.round(F.col("score_dec").cast(_D), 6).alias("decay_score"),
        F.col("rn").alias("rank"),
    ).orderBy("rank")


_SQL_DECAY_POPULARITY = f"""
WITH li AS (
  SELECT l_partkey, CAST(floor(epoch_ms(l_shipdate) / 86400000.0) AS BIGINT) AS d
  FROM lineitem
), mx AS (
  SELECT MAX(d) AS mxd FROM li
), terms AS (
  SELECT l_partkey,
         CAST(round(pow(2.0, -CAST(LEAST((mxd - d) // 7, 20) AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS term
  FROM li CROSS JOIN mx
), scored AS (
  SELECT l_partkey, COUNT(*) AS n_shipments, SUM(term) AS score_dec
  FROM terms GROUP BY 1
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY score_dec DESC, l_partkey) AS rn FROM scored
)
SELECT l_partkey AS partkey, n_shipments,
       round(CAST(score_dec AS DOUBLE), 6) AS decay_score,
       CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= {_DECAY_TOPK}
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# Calendar densification (gap filling with a generated day spine)
# ---------------------------------------------------------------------------


def _q_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification: a generated day spine (sequence from
    min to max observed day) left-joined onto daily purchase revenue,
    gaps explicit as zero rows — the series-completion step every
    forecasting/rolling query needs before trusting window offsets.
    The spine is |days| rows from a 1-row sequence explode (never a
    cross join against the fact table).  Exact integer cents."""
    cat = Catalog(sf_dir)
    ev = scan(
        spark, cat, "events", ["ts", "event_type", "value"],
        predicates=[F.col("event_type") == "purchase"],
    )
    cents = (money("value") * 100).cast("long")
    daily = ev.groupBy(
        F.floor(F.unix_millis(F.col("ts")) / F.lit(86400000.0)).cast("long").alias("d")
    ).agg(F.sum(cents).alias("x"), F.count(F.lit(1)).alias("n"))
    spine = (
        daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
        .select(F.explode(F.sequence("d0", "d1")).alias("d"))
    )
    return (
        spine.join(daily, "d", "left")
        .select(
            "d",
            (F.coalesce("x", F.lit(0)) / 100.0).alias("revenue"),
            F.coalesce("n", F.lit(0)).alias("n_purchases"),
            F.col("x").isNull().alias("is_gap"),
        )
        .orderBy("d")
    )


_SQL_DENSIFY = """
WITH daily AS (
  SELECT CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS d,
         SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x,
         COUNT(*) AS n
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
), spine AS (
  SELECT unnest(generate_series((SELECT MIN(d) FROM daily),
                                (SELECT MAX(d) FROM daily))) AS d
)
SELECT spine.d,
       COALESCE(x, 0) / 100.0 AS revenue,
       COALESCE(n, 0) AS n_purchases,
       x IS NULL AS is_gap
FROM spine LEFT JOIN daily ON spine.d = daily.d
ORDER BY spine.d
"""


# ---------------------------------------------------------------------------
# New / returning / cumulative distinct users per day
# ---------------------------------------------------------------------------


def _q_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily audience accounting: active users, NEW users (first-ever
    event today), returning = active - new, and the cumulative
    distinct-user count — computed as a running sum of new-user flags
    (first-appearance trick), never a cumulative COUNT(DISTINCT) whose
    window state would grow with the user domain.  Exact integers
    throughout.  Scale: one (user, day) compression, one per-user min,
    one day rollup + one ordered window."""
    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["user_id", "ts"])
    ud = ev.select(
        "user_id",
        F.floor(F.unix_millis(F.col("ts")) / F.lit(86400000.0)).cast("long").alias("d"),
    ).distinct()
    first = ud.groupBy("user_id").agg(F.min("d").alias("fd"))
    active = ud.groupBy("d").agg(F.count(F.lit(1)).alias("active_users"))
    news = first.groupBy("fd").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        active.join(news, active.d == news.fd, "left")
        .select(
            "d",
            "active_users",
            F.coalesce("new_users", F.lit(0)).alias("new_users"),
        )
        .select(
            "d",
            "active_users",
            "new_users",
            (F.col("active_users") - F.col("new_users")).alias("returning_users"),
            F.sum("new_users").over(w).alias("cumulative_users"),
        )
        .orderBy("d")
    )


_SQL_CUMULATIVE_USERS = """
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS d
  FROM events
), first AS (
  SELECT user_id, MIN(d) AS fd FROM ud GROUP BY 1
), active AS (
  SELECT d, COUNT(*) AS active_users FROM ud GROUP BY 1
), news AS (
  SELECT fd, COUNT(*) AS new_users FROM first GROUP BY 1
)
SELECT d, active_users,
       COALESCE(new_users, 0) AS new_users,
       active_users - COALESCE(new_users, 0) AS returning_users,
       SUM(COALESCE(new_users, 0)) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
         AS cumulative_users
FROM active LEFT JOIN news ON active.d = news.fd
ORDER BY d
"""


# ---------------------------------------------------------------------------
# Cart abandonment rate per day
# ---------------------------------------------------------------------------


def _q_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cart abandonment: of the users who clicked that day, the
    share who did NOT purchase the same day — the top-of-funnel loss
    metric beside q_funnel's lifetime view.  One (user, day, flags)
    compression then a day rollup; exact integers, one division."""
    cat = Catalog(sf_dir)
    ev = scan(
        spark, cat, "events", ["user_id", "ts", "event_type"],
        predicates=[F.col("event_type").isin("click", "purchase")],
    )
    ud = ev.groupBy(
        "user_id",
        F.floor(F.unix_millis(F.col("ts")) / F.lit(86400000.0)).cast("long").alias("d"),
    ).agg(
        F.max((F.col("event_type") == "click").cast("int")).alias("clicked"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("purchased"),
    )
    day = ud.filter(F.col("clicked") == 1).groupBy("d").agg(
        F.count(F.lit(1)).alias("n_clickers"),
        F.sum("purchased").alias("n_converted"),
    )
    return day.select(
        "d",
        "n_clickers",
        "n_converted",
        F.round(
            1.0 - F.col("n_converted").cast(_D) / F.col("n_clickers").cast(_D), 6
        ).alias("abandonment_rate"),
    ).orderBy("d")


_SQL_ABANDONMENT = """
WITH ud AS (
  SELECT user_id, CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS d,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicked,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY 1, 2
)
SELECT d, COUNT(*) AS n_clickers, SUM(purchased) AS n_converted,
       round(1.0 - CAST(SUM(purchased) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS abandonment_rate
FROM ud WHERE clicked = 1
GROUP BY d
ORDER BY d
"""


# ---------------------------------------------------------------------------
# Individuals / moving-range (I-MR) control chart
# ---------------------------------------------------------------------------

# Standard I-MR constants: E2 = 2.66 (=3/d2, d2=1.128), D4 = 3.267
_IMR_E2 = 2.66
_IMR_D4 = 3.267


def _q_moving_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I-MR control chart summary over daily purchase revenue: mean
    moving range, the individuals-chart limits xbar +- 2.66*MRbar, the
    MR-chart limit 3.267*MRbar (frozen standard constants), and the
    out-of-control counts — the low-volume companion to q_spc_chart's
    grouped x-bar.  All sums exact integers; limits are double
    formulas; the violation comparisons run on cents against rounded-
    cent limits so both engines count identically."""
    cat = Catalog(sf_dir)
    ev = scan(
        spark, cat, "events", ["ts", "event_type", "value"],
        predicates=[F.col("event_type") == "purchase"],
    )
    cents = (money("value") * 100).cast("long")
    daily = ev.groupBy(
        F.floor(F.unix_millis(F.col("ts")) / F.lit(86400000.0)).cast("long").alias("d")
    ).agg(F.sum(cents).alias("x"))
    w = Window.orderBy("d")
    mr = daily.select(
        "d", "x", F.abs(F.col("x") - F.lag("x", 1).over(w)).alias("mr")
    )
    mom = mr.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.count("mr").alias("m"),
        F.sum("mr").alias("smr"),
    )
    n, m = F.col("n").cast(_D), F.col("m").cast(_D)
    xbar = F.col("sx").cast(_D) / n
    mrbar = F.col("smr").cast(_D) / m
    lim = mom.select(
        "n",
        F.round(xbar, 6).alias("xb"),
        F.round(mrbar, 6).alias("mrb"),
        F.round(xbar + _IMR_E2 * mrbar, 0).cast("long").alias("ucl_x"),
        F.round(xbar - _IMR_E2 * mrbar, 0).cast("long").alias("lcl_x"),
        F.round(_IMR_D4 * mrbar, 0).cast("long").alias("ucl_mr"),
    )
    viol = mr.crossJoin(F.broadcast(lim)).agg(
        F.max("n").alias("n_days"),
        F.max("xb").alias("xb"),
        F.max("mrb").alias("mrb"),
        # when/otherwise(0), NOT cast("long"): with a single data day the
        # limits are NULL, and a NULL comparison must count as 0 in both
        # engines (DuckDB's CASE ... ELSE 0 does; a bare cast sums NULL).
        F.sum(
            F.when(
                (F.col("x") > F.col("ucl_x")) | (F.col("x") < F.col("lcl_x")), 1
            ).otherwise(0)
        ).alias("n_out_x"),
        F.sum(
            F.when(F.col("mr") > F.col("ucl_mr"), 1).otherwise(0)
        ).alias("n_out_mr"),
    )
    return viol.select(
        F.col("n_days").cast("bigint").alias("n_days"),
        F.round(F.col("xb") / 100.0, 4).alias("mean_daily"),
        F.round(F.col("mrb") / 100.0, 4).alias("mean_moving_range"),
        "n_out_x",
        "n_out_mr",
    )


_SQL_MOVING_RANGE = f"""
WITH daily AS (
  SELECT CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS d,
         SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
), mr AS (
  SELECT d, x, ABS(x - LAG(x, 1) OVER (ORDER BY d)) AS mr FROM daily
), mom AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, COUNT(mr) AS m, SUM(mr) AS smr FROM mr
), lim AS (
  SELECT n,
         round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS xb,
         round(CAST(smr AS DOUBLE) / CAST(m AS DOUBLE), 6) AS mrb,
         CAST(round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
               + {_IMR_E2} * (CAST(smr AS DOUBLE) / CAST(m AS DOUBLE)), 0) AS BIGINT) AS ucl_x,
         CAST(round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
               - {_IMR_E2} * (CAST(smr AS DOUBLE) / CAST(m AS DOUBLE)), 0) AS BIGINT) AS lcl_x,
         CAST(round({_IMR_D4} * (CAST(smr AS DOUBLE) / CAST(m AS DOUBLE)), 0) AS BIGINT) AS ucl_mr
  FROM mom
)
SELECT CAST(MAX(n) AS BIGINT) AS n_days,
       round(MAX(xb) / 100.0, 4) AS mean_daily,
       round(MAX(mrb) / 100.0, 4) AS mean_moving_range,
       SUM(CASE WHEN x > ucl_x OR x < lcl_x THEN 1 ELSE 0 END) AS n_out_x,
       SUM(CASE WHEN mr > ucl_mr THEN 1 ELSE 0 END) AS n_out_mr
FROM mr CROSS JOIN lim
"""


TIMESERIES_QUERIES: list[QueryDef] = [
    QueryDef(
        "q_max_concurrent", _q_max_concurrent, _SQL_MAX_CONCURRENT,
        "sweep-line peak interval concurrency",
    ),
    QueryDef(
        "q_drawdown", _q_drawdown, _SQL_DRAWDOWN,
        "max drawdown of cumulative revenue (exact decimal)",
    ),
    QueryDef(
        "q_streaks", _q_streaks, _SQL_STREAKS,
        "gaps-and-islands longest activity streaks",
    ),
    QueryDef(
        "q_changepoint", _q_changepoint, _SQL_CHANGEPOINT,
        "least-squares single change-point (prefix-sum SSE)",
    ),
    QueryDef(
        "q_dtw", _q_dtw, _sql_dtw(),
        "DTW profile distance (pandas DP vs unrolled-diagonal SQL)",
    ),
    QueryDef(
        "q_sprt", _q_sprt, _SQL_SPRT,
        "Wald SPRT daily LLR walk (frozen-ln exact decimal)",
    ),
    QueryDef(
        "q_hampel", _q_hampel, _SQL_HAMPEL,
        "Hampel rolling-median/MAD outliers, all-integer",
    ),
    QueryDef(
        "q_runs_test", _q_runs_test, _SQL_RUNS_TEST,
        "Wald-Wolfowitz runs test on daily moves",
    ),
    QueryDef(
        "q_event_study", _q_event_study, _SQL_EVENT_STUDY,
        "event study aligned to first purchase",
    ),
    QueryDef(
        "q_seasonal_strength", _q_seasonal_strength, _SQL_SEASONAL_STRENGTH,
        "STL-style seasonal strength (exact-decimal residual variance)",
    ),
    QueryDef(
        "q_markov_attribution", _q_markov_attribution, _sql_markov_attribution(),
        "Markov removal-effect attribution (unrolled absorption)",
    ),
    QueryDef(
        "q_hurst", _q_hurst, _sql_hurst(),
        "Hurst exponent via R/S analysis (4 block sizes)",
    ),
    QueryDef(
        "q_funnel_time", _q_funnel_time, _SQL_FUNNEL_TIME,
        "funnel time-to-convert exact percentiles",
    ),
    QueryDef(
        "q_granger", _q_granger, _SQL_GRANGER,
        "lag-1 Granger causality (Cramer-solved nested OLS)",
    ),
    QueryDef(
        "q_dau_wau", _q_dau_wau, _SQL_DAU_WAU,
        "DAU/WAU stickiness over a 7-day band join",
    ),
    QueryDef(
        "q_rolling_beta", _q_rolling_beta, _SQL_ROLLING_BETA,
        "rolling 7-day OLS beta from windowed moments",
    ),
    QueryDef(
        "q_durbin_watson", _q_durbin_watson, _SQL_DURBIN_WATSON,
        "Durbin-Watson serial correlation of trend residuals",
    ),
    QueryDef(
        "q_changepoint2", _q_changepoint2, _SQL_CHANGEPOINT2,
        "two-change-point segmentation from prefix-sum pairs",
    ),
    QueryDef(
        "q_spc_chart", _q_spc_chart, _SQL_SPC_CHART,
        "Shewhart x-bar chart with frozen 3-sigma limits",
    ),
    QueryDef("q_ohlc", _q_ohlc, _SQL_OHLC, "hourly OHLCV candles per event type"),
    QueryDef("q_bollinger", _q_bollinger, _SQL_BOLLINGER, "7-day Bollinger bands"),
    QueryDef(
        "q_ljung_box", _q_ljung_box, _sql_ljung_box(),
        "Ljung-Box portmanteau autocorrelation test",
    ),
    QueryDef("q_chow_test", _q_chow_test, _sql_chow_test(), "Chow structural break F"),
    QueryDef(
        "q_engle_granger", _q_engle_granger, _SQL_ENGLE_GRANGER,
        "Engle-Granger cointegration DF stat",
    ),
    QueryDef("q_croston", _q_croston, _SQL_CROSTON, "Croston intermittent demand"),
    QueryDef(
        "q_page_hinkley", _q_page_hinkley, _SQL_PAGE_HINKLEY,
        "Page-Hinkley drift statistic",
    ),
    QueryDef("q_sign_test", _q_sign_test, _SQL_SIGN_TEST, "week-over-week sign test"),
    QueryDef(
        "q_decay_popularity", _q_decay_popularity, _SQL_DECAY_POPULARITY,
        "half-life time-decay popularity top-20",
    ),
    QueryDef("q_densify", _q_densify, _SQL_DENSIFY, "calendar densification with gaps"),
    QueryDef(
        "q_cumulative_users", _q_cumulative_users, _SQL_CUMULATIVE_USERS,
        "new/returning/cumulative users per day",
    ),
    QueryDef("q_abandonment", _q_abandonment, _SQL_ABANDONMENT, "daily cart abandonment"),
    QueryDef(
        "q_moving_range", _q_moving_range, _SQL_MOVING_RANGE,
        "I-MR control chart summary",
    ),
]
