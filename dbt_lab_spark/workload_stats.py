"""Statistics and analytics queries.

Hypothesis tests, estimators and effect sizes, regression and model
diagnostics, feature binning and encoding, distribution, tail and
inequality measures, experiment (A/B) analysis, ranking and
classification metrics, clustering quality, link analysis over the
trade graph, and corpus text and near-duplicate statistics.  Queries
whose answer depends on time order live in
dbt_lab_spark.workload_timeseries.  Same (builder, oracle) contract as
dbt_lab_spark.workload.

Determinism: every query follows the repo's cross-engine exactness
conventions — integer/decimal arithmetic end-to-end where possible,
frozen-ln DECIMAL(18,6) terms for transcendentals, identical
double-formula parenthesization in both engines, and deterministic
tie-breaks on every top-k / argmin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbt_lab_spark.catalog import Catalog
from dbt_lab_spark.expr import money
from dbt_lab_spark.localrel import local_df
from dbt_lab_spark.operators.scan import fan_out_if_small, scan
from dbt_lab_spark.workload import QueryDef
from dbt_lab_spark.workload_extras import _SQL_TRADE_EDGES, _trade_edges_topk


_D = "double"


# ---------------------------------------------------------------------------
# Mann-Whitney U (rank-sum) test — integer-rational, tie-corrected
# ---------------------------------------------------------------------------


def _q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Mann-Whitney U between 'view' and 'purchase' event
    values — the rank-based location test next to q_ks_test's
    distribution-shape test.  ENTIRELY integer until the final z:
    compress to per-distinct-value counts (DECIMAL(18,2) canonical
    domain), one cumulative window, and the doubled rank-sum
    2*R1 = sum_v a_v * (2*before_v + t_v + 1) is an exact integer
    (ties get the doubled average rank 2*before + t + 1).  The
    tie-corrected z uses one identically-parenthesized double formula
    in both engines.  Scale: the window runs over the compressed value
    domain (|distinct money values|), never the raw event count."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select("event_type", money("value").alias("v"))
    per_v = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("a"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("b"),
        )
        .withColumn("t", F.col("a") + F.col("b"))
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = per_v.select(
        "a", "b", "t", (F.sum("t").over(w) - F.col("t")).alias("before")
    )
    red = cum.agg(
        F.sum(F.col("a") * (2 * F.col("before") + F.col("t") + 1)).alias("two_r1"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie_sum"),
        F.sum("a").alias("n1"),
        F.sum("b").alias("n2"),
    )
    n1d = F.col("n1").cast(_D)
    n2d = F.col("n2").cast(_D)
    nd = (F.col("n1") + F.col("n2")).cast(_D)
    var = (n1d * n2d / F.lit(12.0)) * (
        (nd + F.lit(1.0))
        - F.col("tie_sum").cast(_D) / (nd * (nd - F.lit(1.0)))
    )
    two_u1 = F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)
    return red.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        two_u1.cast("bigint").alias("two_u1"),
        (2 * F.col("n1") * F.col("n2") - two_u1).cast("bigint").alias("two_u2"),
        F.col("tie_sum").cast("bigint").alias("tie_sum"),
        F.round(
            (two_u1 - F.col("n1") * F.col("n2")).cast(_D) / (F.lit(2.0) * F.sqrt(var)),
            6,
        ).alias("z_stat"),
    )


_SQL_MANN_WHITNEY = """
WITH per_v AS (
  SELECT CAST(value AS DECIMAL(18,2)) AS v,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS a,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b,
         COUNT(*) AS t
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1
), cum AS (
  SELECT a, b, t,
         SUM(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - t AS bef
  FROM per_v
), red AS (
  SELECT SUM(a * (2 * bef + t + 1)) AS two_r1,
         SUM(t * t * t - t) AS tie_sum,
         SUM(a) AS n1, SUM(b) AS n2
  FROM cum
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       CAST(two_r1 - n1 * (n1 + 1) AS BIGINT) AS two_u1,
       CAST(2 * n1 * n2 - (two_r1 - n1 * (n1 + 1)) AS BIGINT) AS two_u2,
       CAST(tie_sum AS BIGINT) AS tie_sum,
       round(CAST((two_r1 - n1 * (n1 + 1)) - n1 * n2 AS DOUBLE)
             / (2.0 * sqrt((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
                * ((CAST(n1 + n2 AS DOUBLE) + 1.0)
                   - CAST(tie_sum AS DOUBLE)
                     / (CAST(n1 + n2 AS DOUBLE) * (CAST(n1 + n2 AS DOUBLE) - 1.0))))),
             6) AS z_stat
FROM red
"""


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR step-up over per-source Chebyshev p-values
# ---------------------------------------------------------------------------

_BH_ALPHA_X10 = 1  # alpha = 0.1; the step-up compare is p * 10 * m <= k


def _q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing control: per documents-source location test
    against the corpus mean of n_chars, then the Benjamini-Hochberg
    step-up at alpha=0.1.  The per-source p-value is the Chebyshev
    bound p = min(1, 1/z^2) — a valid conservative p-value that is
    fully RATIONAL (no erf/чи2 CDF), so both engines agree exactly.
    The step-up comparison p_(k) <= k*alpha/m runs in exact decimal
    (p frozen to DECIMAL(18,6); compare p*10*m <= k with alpha=0.1),
    never a float threshold.  Rank ties break on source name.
    Scale: one hash aggregate over documents + an m-row window."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["source", "n_chars"])
    g = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_g"), F.sum("n_chars").alias("sx_g")
    )
    tot = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("sxx"),
    )
    j = g.crossJoin(F.broadcast(tot))
    mean_g = F.col("sx_g").cast(_D) / F.col("n_g").cast(_D)
    mean_all = F.col("sx").cast(_D) / F.col("n").cast(_D)
    var_all = (
        F.col("n").cast(_D) * F.col("sxx").cast(_D)
        - F.col("sx").cast(_D) * F.col("sx").cast(_D)
    ) / (F.col("n").cast(_D) * (F.col("n").cast(_D) - F.lit(1.0)))
    z2 = (mean_g - mean_all) * (mean_g - mean_all) * F.col("n_g").cast(_D) / var_all
    p = F.when(z2 <= F.lit(0.0), F.lit(1.0)).otherwise(
        F.least(F.lit(1.0), F.lit(1.0) / z2)
    )
    scored = j.select(
        "source",
        F.col("n_g").cast("bigint").alias("n_docs"),
        F.round(p, 6).cast("decimal(18,6)").alias("p_dec"),
    )
    wk = Window.orderBy("p_dec", "source")
    wall = Window.partitionBy()
    ranked = scored.select(
        "source",
        "n_docs",
        "p_dec",
        F.row_number().over(wk).alias("k_rank"),
        F.count(F.lit(1)).over(wall).alias("m"),
    )
    flagged = ranked.withColumn(
        "ok", F.col("p_dec") * F.lit(10 * _BH_ALPHA_X10) * F.col("m") <= F.col("k_rank")
    )
    kmax = F.max(F.when(F.col("ok"), F.col("k_rank"))).over(wall)
    return flagged.select(
        "source",
        "n_docs",
        F.col("p_dec").cast(_D).alias("p_cheb"),
        F.col("k_rank").cast("int").alias("k_rank"),
        (F.col("k_rank") <= F.coalesce(kmax, F.lit(0))).alias("rejected"),
    )


_SQL_BH_FDR = f"""
WITH g AS (
  SELECT source, COUNT(*) AS n_g, SUM(n_chars) AS sx_g
  FROM documents GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS n, SUM(n_chars) AS sx, SUM(n_chars * n_chars) AS sxx
  FROM documents
), scored AS (
  SELECT source, CAST(n_g AS BIGINT) AS n_docs,
         CAST(round(CASE WHEN
             (CAST(sx_g AS DOUBLE) / CAST(n_g AS DOUBLE)
              - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(sx_g AS DOUBLE) / CAST(n_g AS DOUBLE)
                - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             * CAST(n_g AS DOUBLE)
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) <= 0.0
           THEN 1.0
           ELSE least(1.0, 1.0 / (
             (CAST(sx_g AS DOUBLE) / CAST(n_g AS DOUBLE)
              - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(sx_g AS DOUBLE) / CAST(n_g AS DOUBLE)
                - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             * CAST(n_g AS DOUBLE)
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))))
         END, 6) AS DECIMAL(18,6)) AS p_dec
  FROM g, tot
), ranked AS (
  SELECT source, n_docs, p_dec,
         ROW_NUMBER() OVER (ORDER BY p_dec, source) AS k_rank,
         COUNT(*) OVER () AS m
  FROM scored
), flagged AS (
  SELECT source, n_docs, p_dec, k_rank,
         p_dec * {10 * _BH_ALPHA_X10} * m <= k_rank AS ok
  FROM ranked
)
SELECT source, n_docs, CAST(p_dec AS DOUBLE) AS p_cheb,
       CAST(k_rank AS INT) AS k_rank,
       k_rank <= COALESCE(MAX(CASE WHEN ok THEN k_rank END) OVER (), 0) AS rejected
FROM flagged
"""


# ---------------------------------------------------------------------------
# link prediction: resource-allocation index over the trade graph
# ---------------------------------------------------------------------------

_RA_TOPK = 20


def _q_link_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link prediction on the undirected top-3
    trade graph: for each NON-adjacent pair (u, v), RA(u,v) =
    sum_{z in N(u) ∩ N(v)} 1/deg(z) — the degree-penalized
    common-neighbor score (Zhou et al. 2009); Adamic-Adar's 1/log deg
    swapped for the fully RATIONAL 1/deg.  Determinism: each 1/deg is
    frozen to DECIMAL(18,6) before summation (exact, associative);
    top-20 tie-breaks on (score desc, u, v).  Scale: two self-joins of
    the adjacency list keyed on the shared neighbor — the standard
    distributed wedge enumeration, bounded by sum(deg^2), never
    |V|^2."""
    edges = _trade_edges_topk(spark, sf_dir)
    nation = scan(spark, Catalog(sf_dir), "nation", ["n_nationkey", "n_name"])
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    adj = und.select(F.col("a").alias("x"), F.col("b").alias("y")).unionAll(
        und.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )
    deg = adj.groupBy("x").agg(F.count(F.lit(1)).alias("deg"))
    wz = F.round(F.lit(1.0) / F.col("deg").cast(_D), 6).cast("decimal(18,6)")
    j1 = adj.select(F.col("x").alias("u"), F.col("y").alias("z"))
    j2 = adj.select(F.col("x").alias("z2"), F.col("y").alias("v"))
    wedges = j1.join(j2, j1.z == j2.z2).filter(F.col("u") < F.col("v"))
    cand = wedges.join(
        und, (wedges.u == und.a) & (wedges.v == und.b), "left_anti"
    )
    scored = (
        cand.join(F.broadcast(deg.select(F.col("x").alias("z"), wz.alias("wz"))), "z")
        .groupBy("u", "v")
        .agg(
            F.sum("wz").alias("ra"),
            F.count(F.lit(1)).alias("n_common"),
        )
    )
    top = scored.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("ra"), "u", "v"))
    ).filter(F.col("rn") <= _RA_TOPK)
    nu = nation.select(
        F.col("n_nationkey").alias("u"), F.col("n_name").alias("u_name")
    )
    nv = nation.select(
        F.col("n_nationkey").alias("v"), F.col("n_name").alias("v_name")
    )
    return (
        top.join(F.broadcast(nu), "u")
        .join(F.broadcast(nv), "v")
        .select(
            "u_name",
            "v_name",
            F.col("ra").cast(_D).alias("ra_score"),
            F.col("n_common").cast("bigint").alias("n_common"),
        )
        .orderBy(F.desc("ra_score"), "u_name", "v_name")
    )


_SQL_LINK_PRED = rf"""
WITH {_SQL_TRADE_EDGES},
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges
), adj AS MATERIALIZED (
  SELECT a AS x, b AS y FROM und
  UNION ALL
  SELECT b AS x, a AS y FROM und
), deg AS (
  SELECT x, CAST(round(1.0 / CAST(COUNT(*) AS DOUBLE), 6) AS DECIMAL(18,6)) AS wz
  FROM adj GROUP BY 1
), wedges AS (
  SELECT j1.x AS u, j2.y AS v, j1.y AS z
  FROM adj j1 JOIN adj j2 ON j1.y = j2.x
  WHERE j1.x < j2.y
), cand AS (
  SELECT w.u, w.v, w.z FROM wedges w
  WHERE NOT EXISTS (SELECT 1 FROM und e WHERE e.a = w.u AND e.b = w.v)
), scored AS (
  SELECT c.u, c.v, SUM(d.wz) AS ra, COUNT(*) AS n_common
  FROM cand c JOIN deg d ON d.x = c.z
  GROUP BY 1, 2
), top AS (
  SELECT u, v, ra, n_common,
         ROW_NUMBER() OVER (ORDER BY ra DESC, u, v) AS rn
  FROM scored
)
SELECT nu.n_name AS u_name, nv.n_name AS v_name,
       CAST(ra AS DOUBLE) AS ra_score, CAST(n_common AS BIGINT) AS n_common
FROM top
JOIN nation nu ON nu.n_nationkey = u
JOIN nation nv ON nv.n_nationkey = v
WHERE rn <= {_RA_TOPK}
ORDER BY ra_score DESC, u_name, v_name
"""


# ---------------------------------------------------------------------------
# mutual information between customer nation and order priority
# ---------------------------------------------------------------------------


def _q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between customer nation and order
    priority — the feature-association score a training pipeline uses
    for feature selection, with both marginal entropies and the
    normalized MI.  Frozen-ln convention: each ln runs on an
    identically-parenthesized double of exact integer counts, rounds
    to 6, freezes to DECIMAL(18,6), is weighted by the INTEGER cell
    count and summed exactly; one double division at the end.  Scale:
    one (nation, priority) hash aggregate, tiny marginal reduces, all
    joint work broadcast."""
    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_custkey", "o_orderpriority"])
    cust = scan(spark, cat, "customer", ["c_custkey", "c_nationkey"])
    cell = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rx = cell.groupBy("c_nationkey").agg(F.sum("c").alias("r"))
    cy = cell.groupBy("o_orderpriority").agg(F.sum("c").alias("cc"))
    tot = cell.agg(F.sum("c").alias("n"))

    def frozen_ln(arg):
        return F.round(F.log(arg), 6).cast("decimal(18,6)")

    mi_term = F.col("c") * frozen_ln(
        (F.col("c").cast(_D) * F.col("n").cast(_D))
        / (F.col("r").cast(_D) * F.col("cc").cast(_D))
    )
    mi = (
        cell.join(F.broadcast(rx), "c_nationkey")
        .join(F.broadcast(cy), "o_orderpriority")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(F.sum(mi_term).cast(_D) / F.max("n"), 6).alias("mi_nats"),
            F.max("n").cast("bigint").alias("n_orders"),
        )
    )
    hx = (
        rx.crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                -F.sum(
                    F.col("r") * frozen_ln(F.col("r").cast(_D) / F.col("n").cast(_D))
                ).cast(_D)
                / F.max("n"),
                6,
            ).alias("h_nation")
        )
    )
    hy = (
        cy.crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                -F.sum(
                    F.col("cc") * frozen_ln(F.col("cc").cast(_D) / F.col("n").cast(_D))
                ).cast(_D)
                / F.max("n"),
                6,
            ).alias("h_priority")
        )
    )
    return (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            "mi_nats",
            "h_nation",
            "h_priority",
            F.round(
                F.col("mi_nats") / F.sqrt(F.col("h_nation") * F.col("h_priority")), 6
            ).alias("nmi"),
            "n_orders",
        )
    )


_SQL_MUTUAL_INFO = """
WITH cell AS MATERIALIZED (
  SELECT c_nationkey, o_orderpriority, COUNT(*) AS c
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
), rx AS (
  SELECT c_nationkey, SUM(c) AS r FROM cell GROUP BY 1
), cy AS (
  SELECT o_orderpriority, SUM(c) AS cc FROM cell GROUP BY 1
), tot AS (
  SELECT SUM(c) AS n FROM cell
), mi AS (
  SELECT round(CAST(SUM(c * CAST(round(ln(
             (CAST(c AS DOUBLE) * CAST(n AS DOUBLE))
             / (CAST(r AS DOUBLE) * CAST(cc AS DOUBLE))), 6) AS DECIMAL(18,6)))
         AS DOUBLE) / MAX(n), 6) AS mi_nats,
         CAST(MAX(n) AS BIGINT) AS n_orders
  FROM cell
  JOIN rx USING (c_nationkey)
  JOIN cy USING (o_orderpriority)
  CROSS JOIN tot
), hx AS (
  SELECT round(-CAST(SUM(r * CAST(round(ln(
             CAST(r AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6)))
         AS DOUBLE) / MAX(n), 6) AS h_nation
  FROM rx CROSS JOIN tot
), hy AS (
  SELECT round(-CAST(SUM(cc * CAST(round(ln(
             CAST(cc AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6)))
         AS DOUBLE) / MAX(n), 6) AS h_priority
  FROM cy CROSS JOIN tot
)
SELECT mi_nats, h_nation, h_priority,
       round(mi_nats / sqrt(h_nation * h_priority), 6) AS nmi, n_orders
FROM mi CROSS JOIN hx CROSS JOIN hy
"""


# ---------------------------------------------------------------------------
# weighted isotonic regression via the minimax formula (no iteration)
# ---------------------------------------------------------------------------


def _q_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted isotonic regression of mean purchase value on
    hour-of-day — the monotone-calibration fit (same statistic PAVA
    computes), expressed DECLARATIVELY via the minimax identity
    f(i) = max_{j<=i} min_{k>=i} wavg(y[j..k]): no iterative pooling,
    so Catalyst sees plain joins + aggregates and both engines agree
    bit-for-bit (prefix sums stay in exact DECIMAL/INTEGER; each
    interval average is ONE identically-parenthesized double
    division).  Scale: the triple join is over the compressed hour
    domain (24 rows -> <=24^3 tuples), never raw events; the events
    pass is one hash aggregate."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").filter(F.col("event_type") == "purchase")
    hourly = (
        ev.select(F.hour("ts").alias("h"), money("value").alias("y"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("w"), F.sum("y").alias("s"))
    )
    wc = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre = hourly.select(
        "h",
        "w",
        "s",
        F.row_number().over(Window.orderBy("h")).alias("i"),
        F.sum("w").over(wc).alias("cw"),
        F.sum("s").over(wc).alias("cs"),
    )
    pj = pre.select(
        F.col("i").alias("ji"),
        (F.col("cw") - F.col("w")).alias("cwj"),
        (F.col("cs") - F.col("s")).alias("csj"),
    )
    pk = pre.select(
        F.col("i").alias("ki"), F.col("cw").alias("cwk"), F.col("cs").alias("csk")
    )
    avgs = (
        pj.join(pk, pj.ji <= pk.ki)
        .select(
            "ji",
            "ki",
            (
                (F.col("csk") - F.col("csj")).cast(_D)
                / (F.col("cwk") - F.col("cwj")).cast(_D)
            ).alias("av"),
        )
    )
    pi = pre.select("i", "h", "w", "s")
    tri = avgs.join(
        pi, (F.col("ji") <= F.col("i")) & (F.col("i") <= F.col("ki"))
    )
    inner = tri.groupBy("i", "ji").agg(F.min("av").alias("mn"))
    fit = inner.groupBy("i").agg(F.max("mn").alias("fitted"))
    return (
        fit.join(pi, "i")
        .select(
            F.col("h").cast("int").alias("hour"),
            F.col("w").cast("bigint").alias("n_events"),
            F.round(F.col("s").cast(_D) / F.col("w").cast(_D), 6).alias("raw_avg"),
            F.round("fitted", 6).alias("fitted"),
        )
        .orderBy("hour")
    )


_SQL_ISOTONIC = """
WITH hourly AS (
  SELECT hour(ts) AS h, COUNT(*) AS w,
         SUM(CAST(value AS DECIMAL(18,2))) AS s
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), pre AS MATERIALIZED (
  SELECT h, w, s,
         ROW_NUMBER() OVER (ORDER BY h) AS i,
         SUM(w) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(s) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS cs
  FROM hourly
), avgs AS MATERIALIZED (
  SELECT j.i AS ji, k.i AS ki,
         CAST(k.cs - (j.cs - j.s) AS DOUBLE)
         / CAST(k.cw - (j.cw - j.w) AS DOUBLE) AS av
  FROM pre j JOIN pre k ON j.i <= k.i
), inner_min AS (
  SELECT p.i, a.ji, MIN(a.av) AS mn
  FROM avgs a JOIN pre p ON a.ji <= p.i AND p.i <= a.ki
  GROUP BY 1, 2
), fit AS (
  SELECT i, MAX(mn) AS fitted FROM inner_min GROUP BY 1
)
SELECT CAST(p.h AS INT) AS hour, CAST(p.w AS BIGINT) AS n_events,
       round(CAST(p.s AS DOUBLE) / CAST(p.w AS DOUBLE), 6) AS raw_avg,
       round(f.fitted, 6) AS fitted
FROM fit f JOIN pre p USING (i)
ORDER BY hour
"""


# ---------------------------------------------------------------------------
# WOE / information value over totalprice deciles
# ---------------------------------------------------------------------------

_WOE_BINS = 10


def _q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence binning + information value of order total
    price against the URGENT-priority target — the credit-scoring
    feature-screening classic.  Deciles come from ntile over the TOTAL
    order (money(o_totalprice), o_orderkey) so bin membership is
    deterministic; each WOE is a frozen-ln DECIMAL(18,6); the IV sum
    multiplies INTEGER (g_b*B - b_b*G) weights by the frozen WOEs
    (exact), dividing by G*B once at the end.  Scale: one window rank
    over orders + a 10-row reduce."""
    cat = Catalog(sf_dir)
    orders = scan(
        spark, cat, "orders", ["o_orderkey", "o_orderpriority", "o_totalprice"]
    )
    binned = orders.select(
        F.ntile(_WOE_BINS)
        .over(Window.orderBy(money("o_totalprice"), "o_orderkey"))
        .alias("bin"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("bad"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("bad").alias("nb")
    ).withColumn("ng", F.col("n") - F.col("nb"))
    wall = Window.partitionBy()
    tot = per_bin.select(
        "*",
        F.sum("ng").over(wall).alias("gt"),
        F.sum("nb").over(wall).alias("bt"),
    )
    woe_dec = F.round(
        F.log(
            (F.col("ng").cast(_D) * F.col("bt").cast(_D))
            / (F.col("nb").cast(_D) * F.col("gt").cast(_D))
        ),
        6,
    ).cast("decimal(18,6)")
    scored = tot.withColumn("woe_dec", woe_dec)
    iv = F.round(
        F.sum(
            (F.col("ng") * F.col("bt") - F.col("nb") * F.col("gt")) * F.col("woe_dec")
        )
        .over(wall)
        .cast(_D)
        / (F.col("gt").cast(_D) * F.col("bt").cast(_D)),
        6,
    )
    return scored.select(
        F.col("bin").cast("int").alias("bin"),
        F.col("n").cast("bigint").alias("n_orders"),
        F.col("nb").cast("bigint").alias("n_bad"),
        F.col("woe_dec").cast(_D).alias("woe"),
        iv.alias("iv_total"),
    ).orderBy("bin")


_SQL_WOE_IV = f"""
WITH binned AS (
  SELECT NTILE({_WOE_BINS}) OVER (ORDER BY CAST(o_totalprice AS DECIMAL(18,2)),
                                  o_orderkey) AS bin,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS bad
  FROM orders
), per_bin AS (
  SELECT bin, COUNT(*) AS n, SUM(bad) AS nb, COUNT(*) - SUM(bad) AS ng
  FROM binned GROUP BY 1
), tot AS (
  SELECT *, SUM(ng) OVER () AS gt, SUM(nb) OVER () AS bt FROM per_bin
), scored AS (
  SELECT *, CAST(round(ln((CAST(ng AS DOUBLE) * CAST(bt AS DOUBLE))
                          / (CAST(nb AS DOUBLE) * CAST(gt AS DOUBLE))), 6)
            AS DECIMAL(18,6)) AS woe_dec
  FROM tot
)
SELECT CAST(bin AS INT) AS bin, CAST(n AS BIGINT) AS n_orders,
       CAST(nb AS BIGINT) AS n_bad,
       CAST(woe_dec AS DOUBLE) AS woe,
       round(CAST(SUM((ng * bt - nb * gt) * woe_dec) OVER () AS DOUBLE)
             / (CAST(gt AS DOUBLE) * CAST(bt AS DOUBLE)), 6) AS iv_total
FROM scored
ORDER BY bin
"""


# ---------------------------------------------------------------------------
# HITS hubs & authorities, 2 exact-integer unrolled iterations
# ---------------------------------------------------------------------------


def _q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled HITS iterations on the directed top-3 trade graph:
    a1 = indegree, h1 = E a1, a2 = E^T h1, h2 = E a2 — hubs-and-
    authorities as EXACT INTEGERS (normalization is scale-invariant,
    so it is deferred entirely to the output, one double division by
    the max).  Distinct from q_pagerank's damped walk: HITS separates
    'points at good pages' from 'is pointed at by good hubs'.  Scale:
    each iteration is one edges-groupBy, the same shape as the
    unrolled q_label_prop oracle."""
    edges = _trade_edges_topk(spark, sf_dir)
    nation = scan(spark, Catalog(sf_dir), "nation", ["n_nationkey", "n_name"])
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    a1 = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("a1"))
    h1 = (
        edges.join(a1, "dst")
        .groupBy("src")
        .agg(F.sum("a1").alias("h1"))
    )
    a2 = (
        edges.join(h1, "src")
        .groupBy("dst")
        .agg(F.sum("h1").alias("a2"))
    )
    h2 = (
        edges.join(a2, "dst")
        .groupBy("src")
        .agg(F.sum("a2").alias("h2"))
    )
    scored = (
        nodes.join(a2, nodes.node == a2.dst, "left")
        .join(h2, nodes.node == h2.src, "left")
        .select(
            "node",
            F.coalesce("a2", F.lit(0)).alias("auth"),
            F.coalesce("h2", F.lit(0)).alias("hub"),
        )
    )
    wall = Window.partitionBy()
    normed = scored.select(
        "node",
        "auth",
        "hub",
        F.max("auth").over(wall).alias("ma"),
        F.max("hub").over(wall).alias("mh"),
    )
    return (
        normed.join(F.broadcast(nation), normed.node == nation.n_nationkey)
        .select(
            "n_name",
            F.col("auth").cast("bigint").alias("auth_score"),
            F.col("hub").cast("bigint").alias("hub_score"),
            F.round(F.col("auth").cast(_D) / F.col("ma").cast(_D), 6).alias(
                "auth_norm"
            ),
            F.round(F.col("hub").cast(_D) / F.col("mh").cast(_D), 6).alias("hub_norm"),
        )
        .orderBy(F.desc("auth_score"), "n_name")
    )


_SQL_HITS = rf"""
WITH {_SQL_TRADE_EDGES},
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
), a1 AS (
  SELECT dst, COUNT(*) AS a1 FROM edges GROUP BY 1
), h1 AS (
  SELECT e.src, SUM(a1.a1) AS h1 FROM edges e JOIN a1 ON a1.dst = e.dst GROUP BY 1
), a2 AS (
  SELECT e.dst, SUM(h1.h1) AS a2 FROM edges e JOIN h1 ON h1.src = e.src GROUP BY 1
), h2 AS (
  SELECT e.src, SUM(a2.a2) AS h2 FROM edges e JOIN a2 ON a2.dst = e.dst GROUP BY 1
), scored AS (
  SELECT n.node, COALESCE(a2.a2, 0) AS auth, COALESCE(h2.h2, 0) AS hub
  FROM nodes n
  LEFT JOIN a2 ON a2.dst = n.node
  LEFT JOIN h2 ON h2.src = n.node
), normed AS (
  SELECT node, auth, hub, MAX(auth) OVER () AS ma, MAX(hub) OVER () AS mh
  FROM scored
)
SELECT n_name, CAST(auth AS BIGINT) AS auth_score, CAST(hub AS BIGINT) AS hub_score,
       round(CAST(auth AS DOUBLE) / CAST(ma AS DOUBLE), 6) AS auth_norm,
       round(CAST(hub AS DOUBLE) / CAST(mh AS DOUBLE), 6) AS hub_norm
FROM normed JOIN nation ON n_nationkey = node
ORDER BY auth_score DESC, n_name
"""


# ---------------------------------------------------------------------------
# CUPED variance-reduced A/B estimate (no-RNG arms, exact moments)
# ---------------------------------------------------------------------------

_CUPED_SPLIT = "2024-01-16"


def _q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B means: per-user pre-period value (x, before
    2024-01-16) as the covariate for the post-period metric (y),
    theta = cov(x,y)/var(x) pooled, adj_mean = raw - theta*(x_arm -
    x_all) — the variance-reduction estimator every experimentation
    platform runs.  Arms are the no-RNG md5 split (first hex digit
    0-7 -> A); x, y are exact integer CENTS; all five moments are
    exact integer sums cast to double ONCE for identically-
    parenthesized formulas.  Scale: one events aggregate per user,
    one 2-row arm reduce."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select("user_id", "ts", money("value").alias("v"))
    split = F.lit(_CUPED_SPLIT).cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        (
            F.coalesce(F.sum(F.when(F.col("ts") < split, F.col("v"))), F.lit(0))
            * 100
        )
        .cast("long")
        .alias("x"),
        (
            F.coalesce(F.sum(F.when(F.col("ts") >= split, F.col("v"))), F.lit(0))
            * 100
        )
        .cast("long")
        .alias("y"),
    )
    armed = per_user.withColumn(
        "arm",
        F.when(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit("cuped"))), 1, 1
            ).isin(*list("01234567")),
            "A",
        ).otherwise("B"),
    )
    tot = armed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    per_arm = armed.groupBy("arm").agg(
        F.count(F.lit(1)).alias("na"),
        F.sum("x").alias("sxa"),
        F.sum("y").alias("sya"),
    )
    j = per_arm.crossJoin(F.broadcast(tot))
    nd = F.col("n").cast(_D)
    cov = nd * F.col("sxy").cast(_D) - F.col("sx").cast(_D) * F.col("sy").cast(_D)
    varx = nd * F.col("sxx").cast(_D) - F.col("sx").cast(_D) * F.col("sx").cast(_D)
    vary = nd * F.col("syy").cast(_D) - F.col("sy").cast(_D) * F.col("sy").cast(_D)
    theta = cov / varx
    raw_mean = F.col("sya").cast(_D) / F.col("na").cast(_D) / F.lit(100.0)
    adj = raw_mean - theta * (
        F.col("sxa").cast(_D) / F.col("na").cast(_D) / F.lit(100.0)
        - F.col("sx").cast(_D) / nd / F.lit(100.0)
    )
    return j.select(
        "arm",
        F.col("na").cast("bigint").alias("n_users"),
        F.round(raw_mean, 6).alias("raw_mean"),
        F.round(adj, 6).alias("adj_mean"),
        F.round(theta, 6).alias("theta"),
        F.round(cov * cov / (varx * vary), 6).alias("rho2"),
    ).orderBy("arm")


_SQL_CUPED = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_SPLIT}'
                        THEN CAST(value AS DECIMAL(18,2)) END), 0) * 100 AS BIGINT) AS x,
         CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT}'
                        THEN CAST(value AS DECIMAL(18,2)) END), 0) * 100 AS BIGINT) AS y
  FROM events GROUP BY 1
), armed AS (
  SELECT *, CASE WHEN substr(md5(CAST(user_id AS VARCHAR) || 'cuped'), 1, 1)
                 BETWEEN '0' AND '7' THEN 'A' ELSE 'B' END AS arm
  FROM per_user
), tot AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
  FROM armed
), per_arm AS (
  SELECT arm, COUNT(*) AS na, SUM(x) AS sxa, SUM(y) AS sya
  FROM armed GROUP BY 1
)
SELECT arm, CAST(na AS BIGINT) AS n_users,
       round(CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) / 100.0, 6) AS raw_mean,
       round(CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) / 100.0
             - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
               * (CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) / 100.0
                  - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0), 6) AS adj_mean,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS theta,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS rho2
FROM per_arm CROSS JOIN tot
ORDER BY arm
"""


# ---------------------------------------------------------------------------
# difference-in-differences over a no-RNG customer split
# ---------------------------------------------------------------------------

_DID_PIVOT = "1998-01-01"


def _q_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 difference-in-differences: customers md5-split into arms
    A/B (no RNG), periods pre/post the 1998-01-01 pivot, outcome =
    mean order totalprice per cell; DID = (A_post - A_pre) -
    (B_post - B_pre).  All four cell sums stay exact DECIMAL and each
    mean is ONE double division; the DID combines the four means with
    one identically-parenthesized formula, so both engines agree
    bit-for-bit.  Scale: one orders+customer broadcast-free equi-join
    (customer is the small side and broadcast), one 4-cell hash
    aggregate, then a 1-row reduce."""
    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_custkey", "o_orderdate", "o_totalprice"])
    cust = scan(spark, cat, "customer", ["c_custkey"])
    arm = F.when(
        F.substring(
            F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit("did"))), 1, 1
        ).isin(*list("01234567")),
        "A",
    ).otherwise("B")
    post = (F.col("o_orderdate") >= F.lit(_DID_PIVOT).cast("timestamp")).cast("int")
    cells = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(arm.alias("arm"), post.alias("post"), money("o_totalprice").alias("y"))
        .groupBy()
        .agg(
            *[
                f
                for a in "AB"
                for p in (0, 1)
                for f in (
                    F.sum(
                        F.when((F.col("arm") == a) & (F.col("post") == p), 1).otherwise(0)
                    ).alias(f"n_{a.lower()}{p}"),
                    F.sum(
                        F.when((F.col("arm") == a) & (F.col("post") == p), F.col("y"))
                    ).alias(f"s_{a.lower()}{p}"),
                )
            ]
        )
    )

    def m(a: str, p: int):
        return F.col(f"s_{a}{p}").cast(_D) / F.col(f"n_{a}{p}").cast(_D)

    did = (m("a", 1) - m("a", 0)) - (m("b", 1) - m("b", 0))
    return cells.select(
        F.col("n_a0").cast("bigint").alias("n_a_pre"),
        F.col("n_a1").cast("bigint").alias("n_a_post"),
        F.col("n_b0").cast("bigint").alias("n_b_pre"),
        F.col("n_b1").cast("bigint").alias("n_b_post"),
        F.round(m("a", 0), 6).alias("mean_a_pre"),
        F.round(m("a", 1), 6).alias("mean_a_post"),
        F.round(m("b", 0), 6).alias("mean_b_pre"),
        F.round(m("b", 1), 6).alias("mean_b_post"),
        F.round(did, 6).alias("did_estimate"),
    )


_SQL_DID = f"""
WITH cells AS (
  SELECT
    SUM(CASE WHEN arm = 'A' AND post = 0 THEN 1 ELSE 0 END) AS n_a0,
    SUM(CASE WHEN arm = 'A' AND post = 0 THEN y END) AS s_a0,
    SUM(CASE WHEN arm = 'A' AND post = 1 THEN 1 ELSE 0 END) AS n_a1,
    SUM(CASE WHEN arm = 'A' AND post = 1 THEN y END) AS s_a1,
    SUM(CASE WHEN arm = 'B' AND post = 0 THEN 1 ELSE 0 END) AS n_b0,
    SUM(CASE WHEN arm = 'B' AND post = 0 THEN y END) AS s_b0,
    SUM(CASE WHEN arm = 'B' AND post = 1 THEN 1 ELSE 0 END) AS n_b1,
    SUM(CASE WHEN arm = 'B' AND post = 1 THEN y END) AS s_b1
  FROM (
    SELECT CASE WHEN substr(md5(CAST(c_custkey AS VARCHAR) || 'did'), 1, 1)
                BETWEEN '0' AND '7' THEN 'A' ELSE 'B' END AS arm,
           CASE WHEN o_orderdate >= TIMESTAMP '{_DID_PIVOT}' THEN 1 ELSE 0 END AS post,
           CAST(o_totalprice AS DECIMAL(18,2)) AS y
    FROM orders JOIN customer ON o_custkey = c_custkey
  )
)
SELECT CAST(n_a0 AS BIGINT) AS n_a_pre, CAST(n_a1 AS BIGINT) AS n_a_post,
       CAST(n_b0 AS BIGINT) AS n_b_pre, CAST(n_b1 AS BIGINT) AS n_b_post,
       round(CAST(s_a0 AS DOUBLE) / CAST(n_a0 AS DOUBLE), 6) AS mean_a_pre,
       round(CAST(s_a1 AS DOUBLE) / CAST(n_a1 AS DOUBLE), 6) AS mean_a_post,
       round(CAST(s_b0 AS DOUBLE) / CAST(n_b0 AS DOUBLE), 6) AS mean_b_pre,
       round(CAST(s_b1 AS DOUBLE) / CAST(n_b1 AS DOUBLE), 6) AS mean_b_post,
       round((CAST(s_a1 AS DOUBLE) / CAST(n_a1 AS DOUBLE)
              - CAST(s_a0 AS DOUBLE) / CAST(n_a0 AS DOUBLE))
             - (CAST(s_b1 AS DOUBLE) / CAST(n_b1 AS DOUBLE)
                - CAST(s_b0 AS DOUBLE) / CAST(n_b0 AS DOUBLE)), 6) AS did_estimate
FROM cells
"""


# ---------------------------------------------------------------------------
# exact weighted median per group (cumulative-weight scan)
# ---------------------------------------------------------------------------


def _q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median of lineitem extendedprice per
    supplier nation — the distributed order statistic that needs a
    cumulative-weight scan, not a plain rank (a 50-unit line pulls the
    median 50x harder than a 1-unit line).  Lower weighted median:
    first value (price-ordered, deterministic (price, orderkey,
    linenumber) tie-break) whose running weight w satisfies
    2*cumw >= totw, ENTIRELY in integers (quantities) and canonical
    DECIMAL prices.  Scale: one nation-partitioned window over
    lineitem (shuffle ratio 1.0, the window class); supplier/nation
    broadcast."""
    cat = Catalog(sf_dir)
    li = scan(
        spark,
        cat,
        "lineitem",
        ["l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"],
    )
    supp = scan(spark, cat, "supplier", ["s_suppkey", "s_nationkey"])
    nation = scan(spark, cat, "nation", ["n_nationkey", "n_name"])
    rows = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            money("l_extendedprice").alias("p"),
            F.col("l_quantity").cast("long").alias("w"),
            "l_orderkey",
            "l_linenumber",
        )
    )
    wn = Window.partitionBy("n_name").orderBy("p", "l_orderkey", "l_linenumber")
    wall = Window.partitionBy("n_name")
    scanned = rows.select(
        "n_name",
        "p",
        "w",
        F.sum("w").over(wn.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("cumw"),
        F.sum("w").over(wall).alias("totw"),
        F.count(F.lit(1)).over(wall).alias("n_lines"),
    )
    hit = scanned.filter(2 * F.col("cumw") >= F.col("totw"))
    first = hit.withColumn(
        "rn", F.row_number().over(Window.partitionBy("n_name").orderBy("cumw", "p"))
    ).filter(F.col("rn") == 1)
    return first.select(
        "n_name",
        F.col("p").cast(_D).alias("wmedian_price"),
        F.col("totw").cast("bigint").alias("total_qty"),
        F.col("n_lines").cast("bigint").alias("n_lines"),
    ).orderBy("n_name")


_SQL_WEIGHTED_MEDIAN = """
WITH rows_w AS (
  SELECT n_name, CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
         CAST(l_quantity AS BIGINT) AS w, l_orderkey, l_linenumber
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
), scanned AS (
  SELECT n_name, p, w,
         SUM(w) OVER (PARTITION BY n_name
                      ORDER BY p, l_orderkey, l_linenumber
                      ROWS UNBOUNDED PRECEDING) AS cumw,
         SUM(w) OVER (PARTITION BY n_name) AS totw,
         COUNT(*) OVER (PARTITION BY n_name) AS n_lines
  FROM rows_w
)
SELECT n_name, CAST(p AS DOUBLE) AS wmedian_price,
       CAST(totw AS BIGINT) AS total_qty, CAST(n_lines AS BIGINT) AS n_lines
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY cumw, p) AS rn
  FROM scanned WHERE 2 * cumw >= totw
) WHERE rn = 1
ORDER BY n_name
"""


# ---------------------------------------------------------------------------
# split-conformal prediction interval with holdout coverage
# ---------------------------------------------------------------------------


def _q_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% prediction interval for order totalprice
    given customer acctbal: OLS fit + residual quantile on the
    md5-split calibration half, coverage audited on the holdout —
    distribution-free uncertainty quantification for any point
    predictor.  The OLS betas come from exact integer-CENT calibration
    moments (one identically-parenthesized double formula each);
    every residual |y - (b0 + b1*x)| is then a deterministic IEEE
    double in both engines, so the rank-ceil(0.9*(n+1)) quantile pick
    (residual-ordered, orderkey tie-break) and the <= q coverage
    compare agree exactly.  Scale: one orders+customer broadcast join,
    one moment aggregate, one residual-ordered window on the
    calibration half, one holdout reduce."""
    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_orderkey", "o_custkey", "o_totalprice"])
    cust = scan(spark, cat, "customer", ["c_custkey", "c_acctbal"])
    base = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "o_orderkey",
            (money("c_acctbal") * 100).cast("long").alias("x"),
            (money("o_totalprice") * 100).cast("long").alias("y"),
            F.when(
                F.substring(
                    F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit("conf"))),
                    1,
                    1,
                ).isin(*list("01234567")),
                "cal",
            )
            .otherwise("test")
            .alias("split"),
        )
    )
    mom = base.filter(F.col("split") == "cal").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast(_D)
    b1 = (nd * F.col("sxy").cast(_D) - F.col("sx").cast(_D) * F.col("sy").cast(_D)) / (
        nd * F.col("sxx").cast(_D) - F.col("sx").cast(_D) * F.col("sx").cast(_D)
    )
    b0 = (F.col("sy").cast(_D) - b1 * F.col("sx").cast(_D)) / nd
    fitted = mom.select(
        "n", b0.alias("b0"), b1.alias("b1")
    )
    scored = base.crossJoin(F.broadcast(fitted)).select(
        "o_orderkey",
        "split",
        F.abs(
            F.col("y").cast(_D) - (F.col("b0") + F.col("b1") * F.col("x").cast(_D))
        ).alias("r"),
        "n",
        "b0",
        "b1",
    )
    cal = scored.filter(F.col("split") == "cal")
    # conformal rank: ceil(0.9 * (n + 1)), clamped to n
    qrank = F.least(F.ceil(F.lit(0.9) * (F.col("n") + 1).cast(_D)), F.col("n"))
    qrow = (
        cal.withColumn("rk", F.row_number().over(Window.orderBy("r", "o_orderkey")))
        .filter(F.col("rk") == qrank)
        .select(F.col("r").alias("q_hat"), "n", "b0", "b1")
    )
    test = scored.filter(F.col("split") == "test").crossJoin(
        F.broadcast(qrow.select("q_hat"))
    )
    cov = test.agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum((F.col("r") <= F.col("q_hat")).cast("long")).alias("n_in"),
    )
    return (
        cov.crossJoin(F.broadcast(qrow))
        .select(
            F.col("n").cast("bigint").alias("n_cal"),
            F.col("n_test").cast("bigint").alias("n_test"),
            F.round(F.col("b1"), 6).alias("beta1"),
            F.round(F.col("q_hat") / 100.0, 6).alias("q_hat"),
            F.round(F.col("n_in").cast(_D) / F.col("n_test").cast(_D), 6).alias(
                "coverage"
            ),
        )
    )


_SQL_CONFORMAL = """
WITH base AS MATERIALIZED (
  SELECT o_orderkey,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
         CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR) || 'conf'), 1, 1)
              BETWEEN '0' AND '7' THEN 'cal' ELSE 'test' END AS split
  FROM orders JOIN customer ON o_custkey = c_custkey
), mom AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy
  FROM base WHERE split = 'cal'
), fitted AS MATERIALIZED (
  SELECT n,
         (CAST(sy AS DOUBLE)
          - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
            * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS b0,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b1
  FROM mom
), scored AS MATERIALIZED (
  SELECT b.o_orderkey, b.split,
         abs(CAST(b.y AS DOUBLE) - (f.b0 + f.b1 * CAST(b.x AS DOUBLE))) AS r,
         f.n, f.b0, f.b1
  FROM base b CROSS JOIN fitted f
), qrow AS MATERIALIZED (
  SELECT r AS q_hat, n, b0, b1 FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY r, o_orderkey) AS rk
    FROM scored WHERE split = 'cal'
  ) WHERE rk = least(CAST(ceil(0.9 * CAST(n + 1 AS DOUBLE)) AS BIGINT), n)
), cov AS (
  SELECT COUNT(*) AS n_test,
         SUM(CASE WHEN s.r <= q.q_hat THEN 1 ELSE 0 END) AS n_in
  FROM scored s CROSS JOIN qrow q WHERE s.split = 'test'
)
SELECT CAST(q.n AS BIGINT) AS n_cal, CAST(c.n_test AS BIGINT) AS n_test,
       round(q.b1, 6) AS beta1,
       round(q.q_hat / 100.0, 6) AS q_hat,
       round(CAST(c.n_in AS DOUBLE) / CAST(c.n_test AS DOUBLE), 6) AS coverage
FROM cov c CROSS JOIN qrow q
"""


# ---------------------------------------------------------------------------
# k-core: 3 unrolled peel rounds on the undirected trade graph
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 3


def _q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core membership after 3 unrolled peel rounds on the
    undirected top-3 trade graph: each round drops nodes whose degree
    in the CURRENT induced subgraph is < k, the classic cohesive-core
    decomposition step (distinct from q_triangles' local clustering
    and q_bfs_hops' reachability).  Degrees are exact integer counts;
    the round count is fixed so the oracle can unroll the identical
    peel as chained CTEs (the q_label_prop pattern); the test suite
    pins that 3 rounds reach the fixpoint on this topology.  Scale:
    each round is one edges-groupBy + one semi-join."""
    from dbt_lab_spark.workload_extras import _trade_edges_topk

    edges = _trade_edges_topk(spark, sf_dir)
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    alive = sym.select("u").distinct()
    deg = None
    for _ in range(_KCORE_ROUNDS):
        cur = (
            sym.join(alive, "u")
            .join(alive.select(F.col("u").alias("v")), "v")
        )
        deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        alive = deg.filter(F.col("deg") >= _KCORE_K).select("u")
    nation = scan(spark, Catalog(sf_dir), "nation", ["n_nationkey", "n_name"])
    nodes = sym.select("u").distinct()
    out = (
        nodes.join(deg, "u", "left")
        .join(alive.withColumn("in_core", F.lit(True)), "u", "left")
        .join(F.broadcast(nation), F.col("u") == F.col("n_nationkey"))
        .select(
            "n_name",
            F.coalesce("deg", F.lit(0)).cast("bigint").alias("last_degree"),
            F.coalesce("in_core", F.lit(False)).alias("in_core"),
        )
    )
    return out.orderBy(F.desc("in_core"), F.desc("last_degree"), "n_name")


def _sql_kcore() -> str:
    from dbt_lab_spark.workload_extras import _SQL_TRADE_EDGES

    parts = [
        f"""WITH {_SQL_TRADE_EDGES},
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges
), sym AS MATERIALIZED (
  SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und
),
alive0 AS MATERIALIZED (SELECT DISTINCT u FROM sym)"""
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f""",
deg{r} AS MATERIALIZED (
  SELECT s.u, COUNT(*) AS deg
  FROM sym s
  JOIN alive{r - 1} x ON x.u = s.u
  JOIN alive{r - 1} y ON y.u = s.v
  GROUP BY 1
), alive{r} AS MATERIALIZED (
  SELECT u FROM deg{r} WHERE deg >= {_KCORE_K}
)"""
        )
    parts.append(
        f"""
SELECT n_name,
       CAST(COALESCE(d.deg, 0) AS BIGINT) AS last_degree,
       (a.u IS NOT NULL) AS in_core
FROM alive0 n0
LEFT JOIN deg{_KCORE_ROUNDS} d ON d.u = n0.u
LEFT JOIN alive{_KCORE_ROUNDS} a ON a.u = n0.u
JOIN nation ON n_nationkey = n0.u
ORDER BY in_core DESC, last_degree DESC, n_name"""
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# Q-Q plot: exact discrete quantile ladder, view vs purchase values
# ---------------------------------------------------------------------------


def _q_qq_plot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-Q comparison of the 'view' vs 'purchase' value distributions
    at the 19 vigintiles (5%..95%): each side's quantile is the EXACT
    discrete order statistic at rank ceil(q*n/100), found on the
    COMPRESSED per-distinct-value cumulative-count frame (the
    q_ks_test compression), so no raw-row sort ever happens.  The
    rank uses pure integer arithmetic ((q*n + 99) div 100); the
    (rank > cum - cnt AND rank <= cum) band match selects EXACTLY one
    compressed row per quantile.  Scale: two hash aggregates + a
    19 x |distinct-values| band join on the compressed domain."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select(
        "event_type", money("value").alias("v")
    ).filter(F.col("event_type").isin("view", "purchase"))
    cum = (
        ev.groupBy("event_type", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "event_type",
            "v",
            "cnt",
            F.sum("cnt")
            .over(
                Window.partitionBy("event_type")
                .orderBy("v")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            .alias("cum"),
            F.sum("cnt").over(Window.partitionBy("event_type")).alias("n"),
        )
    )
    qs = spark.range(1, 20).select((F.col("id") * 5).cast("int").alias("q"))
    hit = qs.join(
        cum,
        (F.expr("(q * n + 99) div 100") > F.col("cum") - F.col("cnt"))
        & (F.expr("(q * n + 99) div 100") <= F.col("cum")),
    )
    pivoted = (
        hit.groupBy("q")
        .pivot("event_type", ["view", "purchase"])
        .agg(F.min("v"))
        .select(
            "q",
            F.col("view").cast(_D).alias("q_view"),
            F.col("purchase").cast(_D).alias("q_purchase"),
            (F.col("purchase").cast(_D) - F.col("view").cast(_D)).alias("qq_diff"),
        )
    )
    return pivoted.orderBy("q")


_SQL_QQ_PLOT = """
WITH ev AS (
  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v
  FROM events WHERE event_type IN ('view', 'purchase')
), cum AS MATERIALIZED (
  SELECT event_type, v, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM (SELECT event_type, v, COUNT(*) AS cnt FROM ev GROUP BY 1, 2)
), qs AS (SELECT CAST(range * 5 AS INT) AS q FROM range(1, 20)),
hit AS (
  SELECT qs.q, c.event_type, c.v
  FROM qs JOIN cum c
    ON (qs.q * c.n + 99) // 100 > c.cum - c.cnt
   AND (qs.q * c.n + 99) // 100 <= c.cum
)
SELECT q,
       CAST(MIN(CASE WHEN event_type = 'view' THEN v END) AS DOUBLE) AS q_view,
       CAST(MIN(CASE WHEN event_type = 'purchase' THEN v END) AS DOUBLE) AS q_purchase,
       CAST(MIN(CASE WHEN event_type = 'purchase' THEN v END) AS DOUBLE)
       - CAST(MIN(CASE WHEN event_type = 'view' THEN v END) AS DOUBLE) AS qq_diff
FROM hit GROUP BY q
ORDER BY q
"""


# ---------------------------------------------------------------------------
# histogram-based best-split gain (the GBDT tree-learner primitive)
# ---------------------------------------------------------------------------

_SPLIT_BIN_CENTS = 50000  # 500.00 acctbal per histogram bin


def _q_split_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based best-split search — the LightGBM/XGBoost
    tree-learner inner loop — for predicting order totalprice from
    customer acctbal: bin the feature into fixed 500.00-wide bins,
    accumulate per-bin gradient sums, and score every split boundary
    with gain = GL^2/(HL+1) + GR^2/(HR+1) (squared-loss gradients,
    lambda = 1; the parent term vanishes because residuals sum to 0).
    Gradients are kept EXACT by the n-scaling trick (g_i = n*y_i - S
    in integer cents, accumulated in DECIMAL(38,0)); each candidate's
    gain is one identically-parenthesized double formula on the
    n-normalized GL.  Scale: one broadcast join + one per-bin hash
    aggregate; the split scan is a window over ~25 bins."""
    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_custkey", "o_totalprice"])
    cust = scan(spark, cat, "customer", ["c_custkey", "c_acctbal"])
    base = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        F.floor((money("c_acctbal") * 100).cast("long") / F.lit(float(_SPLIT_BIN_CENTS)))
        .cast("long")
        .alias("bin"),
        (money("o_totalprice") * 100).cast("long").alias("yc"),
    )
    per_bin = base.groupBy("bin").agg(
        F.count(F.lit(1)).alias("c"), F.sum("yc").alias("s")
    )
    tot = per_bin.agg(
        F.sum("c").alias("n"), F.sum("s").cast("decimal(38,0)").alias("st")
    )
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = per_bin.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "st",
        F.sum("c").over(wb).alias("cl"),
        F.sum(F.col("s").cast("decimal(38,0)")).over(wb).alias("sl"),
        F.max("bin").over(Window.partitionBy()).alias("maxbin"),
    )
    # GL in true-cent units: (n*sl - cl*st) / n, as a double
    gl = (
        (
            F.col("n").cast("decimal(38,0)") * F.col("sl")
            - F.col("cl").cast("decimal(38,0)") * F.col("st")
        ).cast(_D)
        / F.col("n").cast(_D)
        / F.lit(100.0)
    )
    hl = F.col("cl").cast(_D)
    hr = (F.col("n") - F.col("cl")).cast(_D)
    gain = gl * gl / (hl + 1.0) + (gl * gl) / (hr + 1.0)
    scored = cum.filter(F.col("bin") < F.col("maxbin")).select(
        "bin",
        "cl",
        "n",
        "sl",
        "st",
        gain.alias("gain"),
    )
    best = scored.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("gain"), "bin"))
    ).filter(F.col("rn") == 1)
    return best.select(
        F.col("bin").cast("bigint").alias("split_bin"),
        ((F.col("bin") + 1) * F.lit(_SPLIT_BIN_CENTS / 100.0)).alias("split_value"),
        F.col("cl").cast("bigint").alias("n_left"),
        (F.col("n") - F.col("cl")).cast("bigint").alias("n_right"),
        F.round(F.col("sl").cast(_D) / F.col("cl").cast(_D) / 100.0, 6).alias(
            "mean_left"
        ),
        F.round(
            (F.col("st") - F.col("sl")).cast(_D)
            / (F.col("n") - F.col("cl")).cast(_D)
            / 100.0,
            6,
        ).alias("mean_right"),
        F.round(F.col("gain"), 4).alias("gain"),
    )


_SQL_SPLIT_GAIN = f"""
WITH base AS (
  SELECT CAST(floor(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                    / {float(_SPLIT_BIN_CENTS)}) AS BIGINT) AS bin,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
  FROM orders JOIN customer ON o_custkey = c_custkey
), per_bin AS (
  SELECT bin, COUNT(*) AS c, SUM(yc) AS s FROM base GROUP BY 1
), tot AS (
  SELECT SUM(c) AS n, CAST(SUM(s) AS DECIMAL(38,0)) AS st FROM per_bin
), cum AS (
  SELECT bin, n, st,
         SUM(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cl,
         SUM(CAST(s AS DECIMAL(38,0))) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS sl,
         MAX(bin) OVER () AS maxbin
  FROM per_bin CROSS JOIN tot
), scored AS (
  SELECT bin, cl, n, sl, st,
         (CAST(CAST(n AS DECIMAL(38,0)) * sl
               - CAST(cl AS DECIMAL(38,0)) * st AS DOUBLE)
          / CAST(n AS DOUBLE) / 100.0)
         * (CAST(CAST(n AS DECIMAL(38,0)) * sl
                 - CAST(cl AS DECIMAL(38,0)) * st AS DOUBLE)
            / CAST(n AS DOUBLE) / 100.0)
         / (CAST(cl AS DOUBLE) + 1.0)
         + (CAST(CAST(n AS DECIMAL(38,0)) * sl
                 - CAST(cl AS DECIMAL(38,0)) * st AS DOUBLE)
            / CAST(n AS DOUBLE) / 100.0)
           * (CAST(CAST(n AS DECIMAL(38,0)) * sl
                   - CAST(cl AS DECIMAL(38,0)) * st AS DOUBLE)
              / CAST(n AS DOUBLE) / 100.0)
           / (CAST(n - cl AS DOUBLE) + 1.0) AS gain
  FROM cum WHERE bin < maxbin
)
SELECT CAST(bin AS BIGINT) AS split_bin,
       (bin + 1) * {_SPLIT_BIN_CENTS / 100.0} AS split_value,
       CAST(cl AS BIGINT) AS n_left,
       CAST(n - cl AS BIGINT) AS n_right,
       round(CAST(sl AS DOUBLE) / CAST(cl AS DOUBLE) / 100.0, 6) AS mean_left,
       round(CAST(st - sl AS DOUBLE) / CAST(n - cl AS DOUBLE) / 100.0, 6) AS mean_right,
       round(gain, 4) AS gain
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY gain DESC, bin) AS rn FROM scored
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# grouped log-log price elasticity per part brand
# ---------------------------------------------------------------------------


def _q_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log price elasticity of demand per part brand: the grouped
    OLS slope of ln(quantity) on ln(line price) — 25 simultaneous
    regressions in ONE aggregate pass (the grouped-regression shape;
    q_ols/q_cv_ols fit one global model).  Both logs are frozen to
    round-6 DECIMAL(18,6) before any accumulation, so all five moments
    per brand are exact decimals and the slope is one
    identically-parenthesized double formula.  Scale: lineitem-part
    equi-join (part broadcast at these SFs, shuffle-hash beyond) +
    one 25-group hash aggregate."""
    cat = Catalog(sf_dir)
    li = scan(spark, cat, "lineitem", ["l_partkey", "l_extendedprice", "l_quantity"])
    part = scan(spark, cat, "part", ["p_partkey", "p_brand"])
    base = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_brand",
        F.round(F.log(money("l_extendedprice").cast(_D)), 6)
        .cast("decimal(18,6)")
        .alias("x"),
        F.round(F.log(F.col("l_quantity").cast(_D)), 6)
        .cast("decimal(18,6)")
        .alias("y"),
    )
    mom = base.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    nd = F.col("n").cast(_D)
    slope = (nd * F.col("sxy").cast(_D) - F.col("sx").cast(_D) * F.col("sy").cast(_D)) / (
        nd * F.col("sxx").cast(_D) - F.col("sx").cast(_D) * F.col("sx").cast(_D)
    )
    return mom.select(
        "p_brand",
        F.col("n").cast("bigint").alias("n_lines"),
        F.round(slope, 6).alias("elasticity"),
        F.round(F.col("sy").cast(_D) / nd, 6).alias("mean_ln_qty"),
    ).orderBy("p_brand")


_SQL_ELASTICITY = """
WITH base AS (
  SELECT p_brand,
         CAST(round(ln(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS x,
         CAST(round(ln(CAST(l_quantity AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey
), mom AS (
  SELECT p_brand, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM base GROUP BY 1
)
SELECT p_brand, CAST(n AS BIGINT) AS n_lines,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS elasticity,
       round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_ln_qty
FROM mom
ORDER BY p_brand
"""


# ---------------------------------------------------------------------------
# heterogeneous treatment effect by acctbal quintile
# ---------------------------------------------------------------------------


def _q_hte_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous treatment effect: per-customer total spend under
    the md5 A/B arm split, contrasted WITHIN acctbal quintiles — the
    segment-level uplift readout that follows any flat A/B result.
    Quintiles come from ntile over (acctbal, custkey) so membership is
    deterministic; spend sums stay exact DECIMAL (customers with no
    orders count as 0); each segment mean is one double division and
    the uplift subtracts the two means.  Scale: one orders rollup +
    broadcast-joined customer frame, one ntile window over customers,
    one 10-cell aggregate."""
    cat = Catalog(sf_dir)
    cust = scan(spark, cat, "customer", ["c_custkey", "c_acctbal"])
    orders = scan(spark, cat, "orders", ["o_custkey", "o_totalprice"])
    spend = orders.groupBy("o_custkey").agg(
        F.sum(money("o_totalprice")).alias("spend")
    )
    seg = cust.select(
        "c_custkey",
        F.ntile(5)
        .over(Window.orderBy(money("c_acctbal"), "c_custkey"))
        .alias("segment"),
        F.when(
            F.substring(
                F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit("hte"))), 1, 1
            ).isin(*list("01234567")),
            "A",
        )
        .otherwise("B")
        .alias("arm"),
    )
    joined = seg.join(spend, seg.c_custkey == spend.o_custkey, "left").select(
        "segment",
        "arm",
        F.coalesce("spend", F.lit(0).cast("decimal(18,2)")).alias("y"),
    )
    cells = joined.groupBy("segment").agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("arm") == "A", F.col("y"))).alias("sa"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).alias("nb"),
        F.sum(F.when(F.col("arm") == "B", F.col("y"))).alias("sb"),
    )
    ma = F.col("sa").cast(_D) / F.col("na").cast(_D)
    mb = F.col("sb").cast(_D) / F.col("nb").cast(_D)
    return cells.select(
        F.col("segment").cast("int").alias("segment"),
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(ma - mb, 6).alias("uplift"),
    ).orderBy("segment")


_SQL_HTE_SEGMENTS = """
WITH spend AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
  FROM orders GROUP BY 1
), seg AS (
  SELECT c_custkey,
         NTILE(5) OVER (ORDER BY CAST(c_acctbal AS DECIMAL(18,2)), c_custkey) AS segment,
         CASE WHEN substr(md5(CAST(c_custkey AS VARCHAR) || 'hte'), 1, 1)
              BETWEEN '0' AND '7' THEN 'A' ELSE 'B' END AS arm
  FROM customer
), joined AS (
  SELECT segment, arm,
         COALESCE(spend, CAST(0 AS DECIMAL(18,2))) AS y
  FROM seg LEFT JOIN spend ON c_custkey = o_custkey
), cells AS (
  SELECT segment,
         SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS na,
         SUM(CASE WHEN arm = 'A' THEN y END) AS sa,
         SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS nb,
         SUM(CASE WHEN arm = 'B' THEN y END) AS sb
  FROM joined GROUP BY 1
)
SELECT CAST(segment AS INT) AS segment,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE), 6) AS mean_a,
       round(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS mean_b,
       round(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
             - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS uplift
FROM cells
ORDER BY segment
"""


# ---------------------------------------------------------------------------
# TOST equivalence test (two one-sided Welch t's)
# ---------------------------------------------------------------------------

_TOST_DELTA_CENTS = 100  # equivalence margin: +/- 1.00


def _q_tost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test between the 'view' and 'purchase' value
    means with margin +/-1.00: both one-sided Welch t statistics must
    clear 1.645 to declare equivalence — the A/B gate for 'prove
    NOTHING changed', the mirror image of q_ab_test's difference
    test.  Moments are exact integer CENTS; the two t's are
    identically-parenthesized double formulas sharing one Welch SE.
    Scale: one 6-moment events aggregate."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").filter(
        F.col("event_type").isin("view", "purchase")
    ).select(
        "event_type", (money("value") * 100).cast("long").alias("c")
    )
    mom = ev.agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("event_type") == "view", F.col("c"))).alias("s1"),
        F.sum(
            F.when(F.col("event_type") == "view", F.col("c") * F.col("c"))
        ).alias("q1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("event_type") == "purchase", F.col("c"))).alias("s2"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("c") * F.col("c"))
        ).alias("q2"),
    )
    n1, n2 = F.col("n1").cast(_D), F.col("n2").cast(_D)
    m1 = F.col("s1").cast(_D) / n1 / 100.0
    m2 = F.col("s2").cast(_D) / n2 / 100.0
    v1 = (n1 * F.col("q1").cast(_D) - F.col("s1").cast(_D) * F.col("s1").cast(_D)) / (
        n1 * (n1 - 1.0)
    ) / 10000.0
    v2 = (n2 * F.col("q2").cast(_D) - F.col("s2").cast(_D) * F.col("s2").cast(_D)) / (
        n2 * (n2 - 1.0)
    ) / 10000.0
    se = F.sqrt(v1 / n1 + v2 / n2)
    delta = _TOST_DELTA_CENTS / 100.0
    diff = m1 - m2
    t_lower = (diff + delta) / se
    t_upper = (delta - diff) / se
    return mom.select(
        F.col("n1").cast("bigint").alias("n_view"),
        F.col("n2").cast("bigint").alias("n_purchase"),
        F.round(diff, 6).alias("mean_diff"),
        F.round(se, 6).alias("welch_se"),
        F.round(t_lower, 6).alias("t_lower"),
        F.round(t_upper, 6).alias("t_upper"),
        (F.least(t_lower, t_upper) > 1.645).alias("equivalent"),
    )


_SQL_TOST = f"""
WITH ev AS (
  SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
  FROM events WHERE event_type IN ('view', 'purchase')
), mom AS (
  SELECT SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN event_type = 'view' THEN c END) AS s1,
         SUM(CASE WHEN event_type = 'view' THEN c * c END) AS q1,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n2,
         SUM(CASE WHEN event_type = 'purchase' THEN c END) AS s2,
         SUM(CASE WHEN event_type = 'purchase' THEN c * c END) AS q2
  FROM ev
), t AS (
  SELECT CAST(n1 AS BIGINT) AS n_view, CAST(n2 AS BIGINT) AS n_purchase,
         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0
         - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 100.0 AS diff,
         sqrt(((CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE)
                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
               / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)) / 10000.0
               / CAST(n1 AS DOUBLE))
              + ((CAST(n2 AS DOUBLE) * CAST(q2 AS DOUBLE)
                  - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
                 / (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1.0)) / 10000.0
                 / CAST(n2 AS DOUBLE))) AS se
  FROM mom
)
SELECT n_view, n_purchase,
       round(diff, 6) AS mean_diff,
       round(se, 6) AS welch_se,
       round((diff + {_TOST_DELTA_CENTS / 100.0}) / se, 6) AS t_lower,
       round(({_TOST_DELTA_CENTS / 100.0} - diff) / se, 6) AS t_upper,
       least((diff + {_TOST_DELTA_CENTS / 100.0}) / se,
             ({_TOST_DELTA_CENTS / 100.0} - diff) / se) > 1.645 AS equivalent
FROM t
"""


# ---------------------------------------------------------------------------
# sign-flip permutation test with md5-derived flips (no RNG)
# ---------------------------------------------------------------------------

_PERM_B = 64


def _q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign-flip permutation test on per-user (purchase - view)
    value totals: 64 deterministic md5-derived sign patterns stand in
    for random flips (the q_bootstrap_ci no-RNG convention), p =
    (1 + #{|sum_b| >= |observed|}) / (B + 1) — the distribution-free
    alternative to the paired t-test.  EVERYTHING is integer cents:
    each flipped sum and the observed sum are exact, so the extreme
    count is an integer compare.  Scale: one per-user aggregate, one
    x64 fan-out (documented fan-out class, like the bootstrap), one
    map-side-combined reduce."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    per_user = ev.groupBy("user_id").agg(
        (
            F.coalesce(
                F.sum(
                    F.when(F.col("event_type") == "purchase", money("value"))
                ),
                F.lit(0),
            )
            * 100
        )
        .cast("long")
        .alias("p"),
        (
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "view", money("value"))),
                F.lit(0),
            )
            * 100
        )
        .cast("long")
        .alias("v"),
    ).select("user_id", (F.col("p") - F.col("v")).alias("d"))
    obs = per_user.agg(
        F.count(F.lit(1)).alias("n"), F.sum("d").alias("obs")
    )
    bs = spark.range(1, _PERM_B + 1).select(F.col("id").alias("b"))
    flipped = per_user.crossJoin(F.broadcast(bs)).select(
        "b",
        (
            F.when(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("user_id").cast("string"),
                            F.lit("perm"),
                            F.col("b").cast("string"),
                        )
                    ),
                    1,
                    1,
                ).isin(*list("02468ace")),
                F.col("d"),
            ).otherwise(-F.col("d"))
        ).alias("sd"),
    )
    stats = flipped.groupBy("b").agg(F.sum("sd").alias("stat"))
    extreme = stats.crossJoin(F.broadcast(obs)).agg(
        F.max("n").alias("n"),
        F.max("obs").alias("obs"),
        F.sum(
            (F.abs(F.col("stat")) >= F.abs(F.col("obs"))).cast("long")
        ).alias("n_extreme"),
    )
    return extreme.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round(F.col("obs").cast(_D) / F.col("n").cast(_D) / 100.0, 6).alias(
            "obs_mean_diff"
        ),
        F.col("n_extreme").cast("bigint").alias("n_extreme"),
        F.round(
            (1.0 + F.col("n_extreme").cast(_D)) / F.lit(float(_PERM_B + 1)), 6
        ).alias("p_value"),
    )


_SQL_PERMUTATION_TEST = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                          THEN CAST(value AS DECIMAL(18,2)) END), 0) * 100 AS BIGINT)
         - CAST(COALESCE(SUM(CASE WHEN event_type = 'view'
                          THEN CAST(value AS DECIMAL(18,2)) END), 0) * 100 AS BIGINT)
         AS d
  FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1
), obs AS (
  SELECT COUNT(*) AS n, SUM(d) AS obs FROM per_user
), bs AS (SELECT CAST(range AS BIGINT) AS b FROM range(1, {_PERM_B + 1})),
stats AS (
  SELECT b, SUM(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)
                            || 'perm' || CAST(b AS VARCHAR)), 1, 1)
                          IN ('0','2','4','6','8','a','c','e')
                     THEN d ELSE -d END) AS stat
  FROM per_user CROSS JOIN bs GROUP BY 1
)
SELECT CAST(o.n AS BIGINT) AS n_users,
       round(CAST(o.obs AS DOUBLE) / CAST(o.n AS DOUBLE) / 100.0, 6) AS obs_mean_diff,
       CAST(SUM(CASE WHEN abs(s.stat) >= abs(o.obs) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_extreme,
       round((1.0 + CAST(SUM(CASE WHEN abs(s.stat) >= abs(o.obs) THEN 1 ELSE 0 END)
                    AS DOUBLE)) / {float(_PERM_B + 1)}, 6) AS p_value
FROM stats s CROSS JOIN obs o
GROUP BY o.n, o.obs
"""


# ---------------------------------------------------------------------------
# minimum detectable effect / power planning per event type
# ---------------------------------------------------------------------------

# frozen z-quantiles: z_{0.975} + z_{0.80} for 5% two-sided alpha, 80% power
_MDE_ZSUM = 2.801586
_MDE_REL_LIFT = 0.05  # plan for a +5% relative lift


def _q_mde_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power planning per event type: with success =
    value > 100, compute the observed rate p and volume n, the
    absolute minimum detectable effect at 80% power / 5% alpha for a
    50/50 split of the SAME volume (MDE = zsum * sqrt(2 p(1-p) /
    (n/2))), and the days of data needed to detect a +5% relative
    lift — the sizing arithmetic every A/B platform runs before
    launch.  Counts are exact integers from ONE aggregate; formulas
    are identically-parenthesized doubles with frozen z constants.
    Scale: one events hash aggregate to the 5-row type grain."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select(
        "event_type",
        (money("value") > 100).cast("long").alias("hit"),
        F.to_date("ts").alias("day"),
    )
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("hit").alias("k"),
        F.countDistinct("day").alias("n_days"),
    )
    nd = F.col("n").cast(_D)
    p = F.col("k").cast(_D) / nd
    mde_abs = F.lit(_MDE_ZSUM) * F.sqrt(2.0 * p * (1.0 - p) / (nd / 2.0))
    n_req = (
        2.0
        * F.lit(_MDE_ZSUM)
        * F.lit(_MDE_ZSUM)
        * p
        * (1.0 - p)
        / (F.lit(_MDE_REL_LIFT) * p * (F.lit(_MDE_REL_LIFT) * p))
    )
    per_day = nd / F.col("n_days").cast(_D)
    return agg.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.round(p, 6).alias("rate"),
        F.round(mde_abs, 6).alias("mde_abs"),
        F.round(mde_abs / p, 6).alias("mde_rel"),
        F.round(n_req, 2).alias("n_required"),
        F.round(n_req / per_day, 2).alias("days_needed"),
    ).orderBy("event_type")


_SQL_MDE_POWER = f"""
WITH agg AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CASE WHEN CAST(value AS DECIMAL(18,2)) > 100 THEN 1 ELSE 0 END) AS k,
         COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
  FROM events GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_events,
       round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
       round({_MDE_ZSUM} * sqrt(2.0 * (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                                * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                                / (CAST(n AS DOUBLE) / 2.0)), 6) AS mde_abs,
       round({_MDE_ZSUM} * sqrt(2.0 * (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                                * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                                / (CAST(n AS DOUBLE) / 2.0))
             / (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS mde_rel,
       round(2.0 * {_MDE_ZSUM} * {_MDE_ZSUM}
             * (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
             * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
             / (({_MDE_REL_LIFT} * (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)))
                * ({_MDE_REL_LIFT} * (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)))), 2)
         AS n_required,
       round((2.0 * {_MDE_ZSUM} * {_MDE_ZSUM}
              * (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
              * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
              / (({_MDE_REL_LIFT} * (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)))
                 * ({_MDE_REL_LIFT} * (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)))))
             / (CAST(n AS DOUBLE) / CAST(n_days AS DOUBLE)), 2) AS days_needed
FROM agg
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# winsorized moments at exact discrete P5/P95 per event type
# ---------------------------------------------------------------------------


def _q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean/std per event type: clamp values at the EXACT
    discrete P5/P95 order statistics (found on the compressed
    per-distinct-value cumulative frame, the q_qq_plot pattern), then
    take exact DECIMAL moments of the clamped values — the
    tail-robust complement to q_trimmed_mean (winsorizing keeps n,
    trimming shrinks it).  Clamped values stay canonical
    DECIMAL(18,2), so sums and squared sums are exact; only the final
    mean/std are doubles.  Scale: two hash aggregates over the
    compressed value domain + one re-aggregation."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select("event_type", money("value").alias("v"))
    cum = (
        ev.groupBy("event_type", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "event_type",
            "v",
            "cnt",
            F.sum("cnt")
            .over(
                Window.partitionBy("event_type")
                .orderBy("v")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            .alias("cum"),
            F.sum("cnt").over(Window.partitionBy("event_type")).alias("n"),
        )
    )

    def pick(q: int, alias: str) -> DataFrame:
        rank = F.expr(f"({q} * n + 99) div 100")
        return (
            cum.filter((rank > F.col("cum") - F.col("cnt")) & (rank <= F.col("cum")))
            .select("event_type", F.col("v").alias(alias))
        )

    cuts = pick(5, "p5").join(pick(95, "p95"), "event_type")
    clamped = ev.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        "p5",
        "p95",
        F.least(F.greatest(F.col("v"), F.col("p5")), F.col("p95")).alias("w"),
        "v",
    )
    mom = clamped.groupBy("event_type", "p5", "p95").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sv"),
        F.sum("w").alias("sw"),
        F.sum((F.col("w") * 100).cast("long") * (F.col("w") * 100).cast("long")).alias(
            "sww"
        ),
    )
    nd = F.col("n").cast(_D)
    wins_mean = F.col("sw").cast(_D) / nd
    wins_var = (
        nd * F.col("sww").cast(_D)
        - (F.col("sw").cast(_D) * 100.0) * (F.col("sw").cast(_D) * 100.0)
    ) / (nd * (nd - 1.0)) / 10000.0
    return mom.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.col("p5").cast(_D).alias("p5"),
        F.col("p95").cast(_D).alias("p95"),
        F.round(F.col("sv").cast(_D) / nd, 6).alias("raw_mean"),
        F.round(wins_mean, 6).alias("wins_mean"),
        F.round(F.sqrt(wins_var), 6).alias("wins_std"),
    ).orderBy("event_type")


_SQL_WINSORIZED_STATS = """
WITH ev AS (
  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v FROM events
), cum AS MATERIALIZED (
  SELECT event_type, v, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM (SELECT event_type, v, COUNT(*) AS cnt FROM ev GROUP BY 1, 2)
), p5 AS (
  SELECT event_type, v AS p5 FROM cum
  WHERE (5 * n + 99) // 100 > cum - cnt AND (5 * n + 99) // 100 <= cum
), p95 AS (
  SELECT event_type, v AS p95 FROM cum
  WHERE (95 * n + 99) // 100 > cum - cnt AND (95 * n + 99) // 100 <= cum
), clamped AS (
  SELECT e.event_type, p5.p5, p95.p95, e.v,
         least(greatest(e.v, p5.p5), p95.p95) AS w
  FROM ev e JOIN p5 USING (event_type) JOIN p95 USING (event_type)
), mom AS (
  SELECT event_type, p5, p95, COUNT(*) AS n, SUM(v) AS sv, SUM(w) AS sw,
         SUM(CAST(w * 100 AS BIGINT) * CAST(w * 100 AS BIGINT)) AS sww
  FROM clamped GROUP BY 1, 2, 3
)
SELECT event_type, CAST(n AS BIGINT) AS n_events,
       CAST(p5 AS DOUBLE) AS p5, CAST(p95 AS DOUBLE) AS p95,
       round(CAST(sv AS DOUBLE) / CAST(n AS DOUBLE), 6) AS raw_mean,
       round(CAST(sw AS DOUBLE) / CAST(n AS DOUBLE), 6) AS wins_mean,
       round(sqrt((CAST(n AS DOUBLE) * CAST(sww AS DOUBLE)
                   - (CAST(sw AS DOUBLE) * 100.0) * (CAST(sw AS DOUBLE) * 100.0))
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 10000.0), 6)
         AS wins_std
FROM mom
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# one full gradient-boosting round (stump + shrinkage + loss audit)
# ---------------------------------------------------------------------------

_GBM_BIN_CENTS = 50000
_GBM_LR = "0.5"  # shrinkage, exact decimal literal


def _q_gbm_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full gradient-boosting round for squared loss on order
    totalprice vs customer acctbal: start from the constant model
    (frozen round-6 mean), find the best histogram split (the
    q_split_gain machinery), fit the two leaf values as frozen round-6
    mean residuals scaled by shrinkage 0.5, and report train SSE
    before vs after — the complete model-update step q_split_gain
    only scores.  Freezing the base prediction and leaf values to
    DECIMAL makes every residual an exact decimal, so both SSE sums
    are exact and the improvement ratio is one double division.
    Scale: two passes (moment aggregate, then per-bin residual
    aggregate + final SSE reduce), each map-side combined."""
    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_custkey", "o_totalprice"])
    cust = scan(spark, cat, "customer", ["c_custkey", "c_acctbal"])
    base = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        F.floor(
            (money("c_acctbal") * 100).cast("long") / F.lit(float(_GBM_BIN_CENTS))
        )
        .cast("long")
        .alias("bin"),
        money("o_totalprice").alias("y"),
    )
    mean0 = base.agg(
        F.round(F.sum("y").cast(_D) / F.count(F.lit(1)).cast(_D), 6)
        .cast("decimal(18,6)")
        .alias("f0"),
        F.count(F.lit(1)).alias("n"),
    )
    resid = base.crossJoin(F.broadcast(mean0)).select(
        "bin", "y", (F.col("y") - F.col("f0")).alias("g"), "f0", "n"
    )
    per_bin = resid.groupBy("bin").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("g").alias("sg"),
        F.max("f0").alias("f0"),
        F.max("n").alias("n"),
    )
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = per_bin.select(
        "bin",
        "f0",
        "n",
        F.sum("c").over(wb).alias("cl"),
        F.sum("sg").over(wb).alias("gl"),
        F.sum("c").over(Window.partitionBy()).alias("ctot"),
        F.sum("sg").over(Window.partitionBy()).alias("gtot"),
        F.max("bin").over(Window.partitionBy()).alias("maxbin"),
    )
    gld = F.col("gl").cast(_D)
    grd = (F.col("gtot") - F.col("gl")).cast(_D)
    gain = gld * gld / (F.col("cl").cast(_D) + 1.0) + grd * grd / (
        (F.col("ctot") - F.col("cl")).cast(_D) + 1.0
    )
    best = (
        cum.filter(F.col("bin") < F.col("maxbin"))
        .withColumn("rn", F.row_number().over(Window.orderBy(F.desc(gain), "bin")))
        .filter(F.col("rn") == 1)
        .select(
            F.col("bin").alias("split_bin"),
            "cl",
            "gl",
            "ctot",
            "gtot",
            # frozen round-6 leaf deltas with shrinkage
            (
                F.round(F.col("gl").cast(_D) / F.col("cl").cast(_D), 6).cast(
                    "decimal(18,6)"
                )
                * F.lit(_GBM_LR).cast("decimal(3,1)")
            ).alias("leaf_l"),
            (
                F.round(
                    (F.col("gtot") - F.col("gl")).cast(_D)
                    / (F.col("ctot") - F.col("cl")).cast(_D),
                    6,
                ).cast("decimal(18,6)")
                * F.lit(_GBM_LR).cast("decimal(3,1)")
            ).alias("leaf_r"),
        )
    )
    scored = resid.crossJoin(F.broadcast(best.select("split_bin", "leaf_l", "leaf_r")))
    upd = scored.select(
        "g",
        (
            F.col("g")
            - F.when(F.col("bin") <= F.col("split_bin"), F.col("leaf_l")).otherwise(
                F.col("leaf_r")
            )
        ).alias("g1"),
    )
    # SSE in exact integer micro-units (g has scale 6 after the decimal
    # subtraction; g1 scale 7 from the 0.5 shrinkage product)
    sse = upd.select(
        (F.col("g") * 1000000).cast("decimal(38,0)").alias("gm"),
        (F.col("g1") * 10000000).cast("decimal(38,0)").alias("g1m"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("gm") * F.col("gm")).alias("s0"),
        F.sum(F.col("g1m") * F.col("g1m")).alias("s1"),
    )
    nd = F.col("n").cast(_D)
    sse0 = F.col("s0").cast(_D) / 1e12 / nd
    sse1 = F.col("s1").cast(_D) / 1e14 / nd
    return sse.crossJoin(F.broadcast(best)).select(
        F.col("split_bin").cast("bigint").alias("split_bin"),
        F.col("cl").cast("bigint").alias("n_left"),
        (F.col("ctot") - F.col("cl")).cast("bigint").alias("n_right"),
        F.col("leaf_l").cast(_D).alias("leaf_left"),
        F.col("leaf_r").cast(_D).alias("leaf_right"),
        F.round(sse0, 4).alias("mse_before"),
        F.round(sse1, 4).alias("mse_after"),
        F.round((sse0 - sse1) / sse0, 6).alias("improvement"),
    )


_SQL_GBM_ROUND = f"""
WITH base AS MATERIALIZED (
  SELECT CAST(floor(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                    / {float(_GBM_BIN_CENTS)}) AS BIGINT) AS bin,
         CAST(o_totalprice AS DECIMAL(18,2)) AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
), mean0 AS (
  SELECT CAST(round(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
              AS DECIMAL(18,6)) AS f0,
         COUNT(*) AS n
  FROM base
), resid AS MATERIALIZED (
  SELECT b.bin, b.y, b.y - m.f0 AS g, m.f0, m.n
  FROM base b CROSS JOIN mean0 m
), per_bin AS (
  SELECT bin, COUNT(*) AS c, SUM(g) AS sg, MAX(f0) AS f0, MAX(n) AS n
  FROM resid GROUP BY 1
), cum AS (
  SELECT bin, f0, n,
         SUM(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cl,
         SUM(sg) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS gl,
         SUM(c) OVER () AS ctot,
         SUM(sg) OVER () AS gtot,
         MAX(bin) OVER () AS maxbin
  FROM per_bin
), best AS MATERIALIZED (
  SELECT bin AS split_bin, f0, n, cl, gl, ctot, gtot,
         CAST(round(CAST(gl AS DOUBLE) / CAST(cl AS DOUBLE), 6)
              AS DECIMAL(18,6)) * CAST({_GBM_LR} AS DECIMAL(3,1)) AS leaf_l,
         CAST(round(CAST(gtot - gl AS DOUBLE) / CAST(ctot - cl AS DOUBLE), 6)
              AS DECIMAL(18,6)) * CAST({_GBM_LR} AS DECIMAL(3,1)) AS leaf_r
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      ORDER BY CAST(gl AS DOUBLE) * CAST(gl AS DOUBLE) / (CAST(cl AS DOUBLE) + 1.0)
               + CAST(gtot - gl AS DOUBLE) * CAST(gtot - gl AS DOUBLE)
                 / (CAST(ctot - cl AS DOUBLE) + 1.0) DESC, bin) AS rn
    FROM cum WHERE bin < maxbin
  ) WHERE rn = 1
), upd AS (
  SELECT r.g,
         r.g - CASE WHEN r.bin <= b.split_bin THEN b.leaf_l ELSE b.leaf_r END AS g1
  FROM resid r CROSS JOIN best b
), sse AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(CAST(g AS DECIMAL(38,6)) * 1000000 AS HUGEINT)
             * CAST(CAST(g AS DECIMAL(38,6)) * 1000000 AS HUGEINT)) AS s0,
         SUM(CAST(CAST(g1 AS DECIMAL(38,7)) * 10000000 AS HUGEINT)
             * CAST(CAST(g1 AS DECIMAL(38,7)) * 10000000 AS HUGEINT)) AS s1
  FROM upd
)
SELECT CAST(b.split_bin AS BIGINT) AS split_bin,
       CAST(b.cl AS BIGINT) AS n_left,
       CAST(b.ctot - b.cl AS BIGINT) AS n_right,
       CAST(b.leaf_l AS DOUBLE) AS leaf_left,
       CAST(b.leaf_r AS DOUBLE) AS leaf_right,
       round(CAST(s.s0 AS DOUBLE) / 1e12 / CAST(s.n AS DOUBLE), 4) AS mse_before,
       round(CAST(s.s1 AS DOUBLE) / 1e14 / CAST(s.n AS DOUBLE), 4) AS mse_after,
       round((CAST(s.s0 AS DOUBLE) / 1e12 / CAST(s.n AS DOUBLE)
              - CAST(s.s1 AS DOUBLE) / 1e14 / CAST(s.n AS DOUBLE))
             / (CAST(s.s0 AS DOUBLE) / 1e12 / CAST(s.n AS DOUBLE)), 6)
         AS improvement
FROM sse s CROSS JOIN best b
"""


# ---------------------------------------------------------------------------
# Tukey median polish of the nation x priority median-price table
# ---------------------------------------------------------------------------

_MP_ITERS = 2


def _q_median_polish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey median polish of the 25x5 nation x order-priority table
    of median order prices: alternately sweep out row and column
    medians (2 full iterations) to split each cell into row effect +
    column effect + residual — the robust two-way decomposition that
    survives wild cells where a mean-based ANOVA table would not.
    Cell medians are EXACT lower order statistics (rank (n+1)/2) in
    canonical DECIMAL(18,2); every sweep subtracts exact decimals, so
    the whole decomposition is float-free.

    Architecture (the q_markov_attribution / Lloyd-loop precedent):
    Spark reduces orders+customer to the 125-cell median table (the
    distributed work: one broadcast join + per-cell rank pick); the
    4 polish sweeps run driver-side on the collected 125 decimals —
    O(|nations| x |priorities|) at ANY data size.  The oracle unrolls
    the identical sweeps as chained SQL CTEs."""
    from decimal import Decimal

    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_custkey", "o_orderpriority", "o_totalprice"])
    cust = scan(spark, cat, "customer", ["c_custkey", "c_nationkey"])
    nation = scan(spark, cat, "nation", ["n_nationkey", "n_name"])
    base = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("n_name", "o_orderpriority", money("o_totalprice").alias("y"))
    )
    wc = Window.partitionBy("n_name", "o_orderpriority").orderBy("y")
    cells = (
        base.select(
            "n_name",
            "o_orderpriority",
            "y",
            F.row_number().over(wc).alias("r"),
            F.count(F.lit(1)).over(
                Window.partitionBy("n_name", "o_orderpriority")
            ).alias("cnt"),
        )
        .filter(F.col("r") * 2 == F.col("cnt") + (F.col("cnt") % 2))
        .select("n_name", "o_orderpriority", F.col("y").alias("cell"))
    )
    rows = cells.collect()  # bounded: |nations| x |priorities| rows

    cell = {(r["n_name"], r["o_orderpriority"]): Decimal(r["cell"]) for r in rows}
    ns = sorted({a for a, _ in cell})
    ps = sorted({b for _, b in cell})

    def lower_median(vals: list[Decimal]) -> Decimal:
        vals = sorted(vals)
        return vals[(len(vals) + 1) // 2 - 1]

    row_eff = {a: Decimal(0) for a in ns}
    col_eff = {b: Decimal(0) for b in ps}
    work = dict(cell)
    for _ in range(_MP_ITERS):
        for a in ns:
            med = lower_median([work[(a, b)] for b in ps if (a, b) in work])
            row_eff[a] += med
            for b in ps:
                if (a, b) in work:
                    work[(a, b)] -= med
        for b in ps:
            med = lower_median([work[(a, b)] for a in ns if (a, b) in work])
            col_eff[b] += med
            for a in ns:
                if (a, b) in work:
                    work[(a, b)] -= med
    out = [
        (
            a,
            b,
            float(cell[(a, b)]),
            float(row_eff[a]),
            float(col_eff[b]),
            float(work[(a, b)]),
        )
        for (a, b) in sorted(cell)
    ]
    return local_df(spark, 
        out,
        "n_name string, o_orderpriority string, cell_median double, "
        "row_effect double, col_effect double, residual double",
    )


def _sql_median_polish() -> str:
    head = """
WITH base AS (
  SELECT n_name, o_orderpriority, CAST(o_totalprice AS DECIMAL(18,2)) AS y
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
), cells0 AS MATERIALIZED (
  SELECT n_name, o_orderpriority, y AS cell FROM (
    SELECT n_name, o_orderpriority, y,
           ROW_NUMBER() OVER (PARTITION BY n_name, o_orderpriority ORDER BY y) AS r,
           COUNT(*) OVER (PARTITION BY n_name, o_orderpriority) AS cnt
    FROM base
  ) WHERE r * 2 = cnt + (cnt % 2)
)"""
    parts = [head]
    cur = "cells0"
    row_terms, col_terms = [], []
    for it in range(1, _MP_ITERS + 1):
        rm, after_r = f"rmed{it}", f"cells_r{it}"
        parts.append(
            f""",
{rm} AS MATERIALIZED (
  SELECT n_name, cell AS med FROM (
    SELECT n_name, cell,
           ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY cell) AS r,
           COUNT(*) OVER (PARTITION BY n_name) AS cnt
    FROM {cur}
  ) WHERE r * 2 = cnt + (cnt % 2)
), {after_r} AS MATERIALIZED (
  SELECT c.n_name, c.o_orderpriority, c.cell - m.med AS cell
  FROM {cur} c JOIN {rm} m USING (n_name)
)"""
        )
        cm, after_c = f"cmed{it}", f"cells_c{it}"
        parts.append(
            f""",
{cm} AS MATERIALIZED (
  SELECT o_orderpriority, cell AS med FROM (
    SELECT o_orderpriority, cell,
           ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY cell) AS r,
           COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
    FROM {after_r}
  ) WHERE r * 2 = cnt + (cnt % 2)
), {after_c} AS MATERIALIZED (
  SELECT c.n_name, c.o_orderpriority, c.cell - m.med AS cell
  FROM {after_r} c JOIN {cm} m USING (o_orderpriority)
)"""
        )
        cur = after_c
        row_terms.append(f"(SELECT med FROM rmed{it} r WHERE r.n_name = c0.n_name)")
        col_terms.append(
            f"(SELECT med FROM cmed{it} m WHERE m.o_orderpriority = c0.o_orderpriority)"
        )
    parts.append(
        f"""
SELECT c0.n_name, c0.o_orderpriority,
       CAST(c0.cell AS DOUBLE) AS cell_median,
       CAST({' + '.join(row_terms)} AS DOUBLE) AS row_effect,
       CAST({' + '.join(col_terms)} AS DOUBLE) AS col_effect,
       CAST(f.cell AS DOUBLE) AS residual
FROM cells0 c0 JOIN {cur} f USING (n_name, o_orderpriority)
ORDER BY c0.n_name, c0.o_orderpriority"""
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# Wasserstein-1 (earth mover's) distance, exact integer numerator
# ---------------------------------------------------------------------------


def _q_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-Wasserstein (earth mover's) distance between the
    'view' and 'purchase' value distributions: W1 = integral of
    |CDF1 - CDF2| = sum over consecutive pooled distinct values of
    |c1*n2 - c2*n1| * gap / (n1*n2) — the optimal-transport metric
    beside q_ks_test's sup-distance, and EXACT: counts, the scaled
    CDF difference, and the cent-unit gaps are all integers, so the
    accumulated numerator is one exact integer and W1 is a single
    final division.  Scale: one hash aggregate to the compressed
    pooled value domain + one cumulative window + one lead."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").filter(
        F.col("event_type").isin("view", "purchase")
    ).select("event_type", money("value").alias("v"))
    per_v = ev.groupBy("v").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("b"),
    )
    wv = Window.orderBy("v")
    wc = wv.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    cum = per_v.select(
        "v",
        F.sum("a").over(wc).alias("ca"),
        F.sum("b").over(wc).alias("cb"),
        F.sum("a").over(wall).alias("n1"),
        F.sum("b").over(wall).alias("n2"),
        ((F.lead("v").over(wv) - F.col("v")) * 100).cast("long").alias("gap_cents"),
    ).filter(F.col("gap_cents").isNotNull())
    agg = cum.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.sum(
            F.abs(
                F.col("ca").cast("decimal(38,0)") * F.col("n2")
                - F.col("cb").cast("decimal(38,0)") * F.col("n1")
            )
            * F.col("gap_cents")
        ).alias("num"),
        F.count(F.lit(1)).alias("n_steps"),
    )
    return agg.select(
        F.col("n1").cast("bigint").alias("n_view"),
        F.col("n2").cast("bigint").alias("n_purchase"),
        F.col("n_steps").cast("bigint").alias("n_steps"),
        F.round(
            F.col("num").cast(_D)
            / (F.col("n1").cast(_D) * F.col("n2").cast(_D))
            / 100.0,
            6,
        ).alias("w1_dist"),
    )


_SQL_WASSERSTEIN = """
WITH per_v AS (
  SELECT CAST(value AS DECIMAL(18,2)) AS v,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS a,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
  FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1
), cum AS (
  SELECT v,
         SUM(a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
         SUM(b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb,
         SUM(a) OVER () AS n1, SUM(b) OVER () AS n2,
         CAST((lead(v) OVER (ORDER BY v) - v) * 100 AS BIGINT) AS gap_cents
  FROM per_v
), agg AS (
  SELECT MAX(n1) AS n1, MAX(n2) AS n2, COUNT(*) AS n_steps,
         SUM(abs(CAST(ca AS HUGEINT) * n2 - CAST(cb AS HUGEINT) * n1)
             * gap_cents) AS num
  FROM cum WHERE gap_cents IS NOT NULL
)
SELECT CAST(n1 AS BIGINT) AS n_view, CAST(n2 AS BIGINT) AS n_purchase,
       CAST(n_steps AS BIGINT) AS n_steps,
       round(CAST(num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
             / 100.0, 6) AS w1_dist
FROM agg
"""


# ---------------------------------------------------------------------------
# Kendall's tau-b via the compressed contingency table
# ---------------------------------------------------------------------------


def _q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between customer acctbal decile and order-count
    decile: concordant/discordant pairs counted EXACTLY on the 10x10
    contingency table (cell x cell double sum — 10^4 combinations,
    never the n^2 customer pairs), with full tie corrections — the
    rank-correlation complement to q_spearman that tolerates heavy
    ties.  Every count, C, D, and the tie terms are exact integers;
    tau-b is one double formula.  Scale: one orders rollup, two ntile
    windows over customers, one 100-cell aggregate, one 100x100
    self-join."""
    cat = Catalog(sf_dir)
    cust = scan(spark, cat, "customer", ["c_custkey", "c_acctbal"])
    orders = scan(spark, cat, "orders", ["o_custkey"])
    cnts = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("k"))
    joined = cust.join(cnts, cust.c_custkey == cnts.o_custkey, "left").select(
        "c_custkey",
        money("c_acctbal").alias("bal"),
        F.coalesce("k", F.lit(0)).alias("k"),
    )
    binned = joined.select(
        F.ntile(10).over(Window.orderBy("bal", "c_custkey")).alias("x"),
        F.ntile(10).over(Window.orderBy("k", "c_custkey")).alias("y"),
    )
    cells = binned.groupBy("x", "y").agg(F.count(F.lit(1)).alias("n"))
    other = cells.select(
        F.col("x").alias("x2"), F.col("y").alias("y2"), F.col("n").alias("n2")
    )
    pairs = cells.crossJoin(other)
    conc = pairs.filter(
        (F.col("x2") > F.col("x")) & (F.col("y2") > F.col("y"))
    ).agg(F.sum(F.col("n") * F.col("n2")).alias("c"))
    disc = pairs.filter(
        (F.col("x2") > F.col("x")) & (F.col("y2") < F.col("y"))
    ).agg(F.sum(F.col("n") * F.col("n2")).alias("d"))
    tx = cells.groupBy("x").agg(F.sum("n").alias("t")).agg(
        F.sum(F.col("t") * (F.col("t") - 1) / 2).cast("long").alias("n1"),
        F.sum("t").alias("n")
    )
    ty = cells.groupBy("y").agg(F.sum("n").alias("u")).agg(
        F.sum(F.col("u") * (F.col("u") - 1) / 2).cast("long").alias("n2t")
    )
    j = conc.crossJoin(disc).crossJoin(tx).crossJoin(ty)
    nd = F.col("n").cast(_D)
    n0 = nd * (nd - 1.0) / 2.0
    tau = (F.col("c") - F.col("d")).cast(_D) / F.sqrt(
        (n0 - F.col("n1").cast(_D)) * (n0 - F.col("n2t").cast(_D))
    )
    return j.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("c").cast("bigint").alias("concordant"),
        F.col("d").cast("bigint").alias("discordant"),
        F.col("n1").cast("bigint").alias("ties_x"),
        F.col("n2t").cast("bigint").alias("ties_y"),
        F.round(tau, 6).alias("tau_b"),
    )


_SQL_KENDALL_TAU = """
WITH cnts AS (
  SELECT o_custkey, COUNT(*) AS k FROM orders GROUP BY 1
), joined AS (
  SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
         COALESCE(k, 0) AS k
  FROM customer LEFT JOIN cnts ON c_custkey = o_custkey
), binned AS (
  SELECT NTILE(10) OVER (ORDER BY bal, c_custkey) AS x,
         NTILE(10) OVER (ORDER BY k, c_custkey) AS y
  FROM joined
), cells AS MATERIALIZED (
  SELECT x, y, COUNT(*) AS n FROM binned GROUP BY 1, 2
), conc AS (
  SELECT SUM(a.n * b.n) AS c FROM cells a JOIN cells b ON b.x > a.x AND b.y > a.y
), disc AS (
  SELECT SUM(a.n * b.n) AS d FROM cells a JOIN cells b ON b.x > a.x AND b.y < a.y
), tx AS (
  SELECT CAST(SUM(t * (t - 1) / 2) AS BIGINT) AS n1, SUM(t) AS n
  FROM (SELECT SUM(n) AS t FROM cells GROUP BY x)
), ty AS (
  SELECT CAST(SUM(u * (u - 1) / 2) AS BIGINT) AS n2t
  FROM (SELECT SUM(n) AS u FROM cells GROUP BY y)
)
SELECT CAST(n AS BIGINT) AS n_customers,
       CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant,
       CAST(n1 AS BIGINT) AS ties_x, CAST(n2t AS BIGINT) AS ties_y,
       round(CAST(c - d AS DOUBLE)
             / sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0
                     - CAST(n1 AS DOUBLE))
                    * (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0
                       - CAST(n2t AS DOUBLE))), 6) AS tau_b
FROM conc CROSS JOIN disc CROSS JOIN tx CROSS JOIN ty
"""


# ---------------------------------------------------------------------------
# Hill estimator for the heavy-tail index
# ---------------------------------------------------------------------------


def _q_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the tail index of order totalprice: with
    x_min the exact discrete P90 order statistic, alpha = n_tail /
    sum(ln(x_i / x_min)) over the strict tail — the standard
    heavy-tail (power-law) diagnostic for revenue distributions.
    The log terms are frozen per COMPRESSED distinct value (round-6
    DECIMAL times the integer count), so the accumulated denominator
    is exact and only alpha is a double.  Scale: one cumulative
    window over the compressed value domain + one tail aggregate."""
    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_totalprice"])
    per_v = orders.select(money("o_totalprice").alias("v")).groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = per_v.select(
        "v",
        "cnt",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    xmin = cum.filter(
        (F.expr("(90 * n + 99) div 100") > F.col("cum") - F.col("cnt"))
        & (F.expr("(90 * n + 99) div 100") <= F.col("cum"))
    ).select(F.col("v").alias("xmin"))
    tail = per_v.crossJoin(F.broadcast(xmin)).filter(F.col("v") > F.col("xmin"))
    terms = tail.select(
        "cnt",
        "xmin",
        (
            F.round(F.log(F.col("v").cast(_D) / F.col("xmin").cast(_D)), 6)
            .cast("decimal(18,6)")
            * F.col("cnt")
        ).alias("term"),
    )
    agg = terms.groupBy("xmin").agg(
        F.sum("cnt").alias("n_tail"), F.sum("term").alias("denom")
    )
    alpha = F.col("n_tail").cast(_D) / F.col("denom").cast(_D)
    return agg.select(
        F.col("xmin").cast(_D).alias("x_min"),
        F.col("n_tail").cast("bigint").alias("n_tail"),
        F.round(alpha, 6).alias("hill_alpha"),
        F.round(alpha / F.sqrt(F.col("n_tail").cast(_D)), 6).alias("alpha_se"),
    )


_SQL_HILL_TAIL = """
WITH per_v AS MATERIALIZED (
  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v, COUNT(*) AS cnt
  FROM orders GROUP BY 1
), cum AS (
  SELECT v, cnt,
         SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER () AS n
  FROM per_v
), xmin AS (
  SELECT v AS xmin FROM cum
  WHERE (90 * n + 99) // 100 > cum - cnt AND (90 * n + 99) // 100 <= cum
), agg AS (
  SELECT xmin, SUM(cnt) AS n_tail,
         SUM(CAST(round(ln(CAST(v AS DOUBLE) / CAST(xmin AS DOUBLE)), 6)
                  AS DECIMAL(18,6)) * cnt) AS denom
  FROM per_v CROSS JOIN xmin WHERE v > xmin
  GROUP BY 1
)
SELECT CAST(xmin AS DOUBLE) AS x_min, CAST(n_tail AS BIGINT) AS n_tail,
       round(CAST(n_tail AS DOUBLE) / CAST(denom AS DOUBLE), 6) AS hill_alpha,
       round(CAST(n_tail AS DOUBLE) / CAST(denom AS DOUBLE)
             / sqrt(CAST(n_tail AS DOUBLE)), 6) AS alpha_se
FROM agg
"""


# ---------------------------------------------------------------------------
# partition-skew audit on md5-replicable buckets
# ---------------------------------------------------------------------------

_SKEW_BUCKETS = 32


def _q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew audit of the lineitem join key: bucket
    l_orderkey into 32 md5-derived buckets (the engine-portable stand-
    in for a shuffle partitioner) and report the size histogram's
    skew diagnostics — max/avg ratio, top-bucket share, and the CV —
    the pre-flight check that tells you whether a 100 TB shuffle on
    this key needs salting BEFORE the job runs.  All counts exact;
    the three ratios are one double formula each.  Scale: one hash
    aggregate to the 32-row bucket grain."""
    cat = Catalog(sf_dir)
    li = scan(spark, cat, "lineitem", ["l_orderkey"])
    bucket = (
        F.conv(F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % _SKEW_BUCKETS
    )
    per_b = li.select(bucket.alias("b")).groupBy("b").agg(
        F.count(F.lit(1)).alias("n")
    )
    wall = Window.partitionBy()
    stats = per_b.select(
        "b",
        "n",
        F.sum("n").over(wall).alias("tot"),
        F.max("n").over(wall).alias("mx"),
        F.count(F.lit(1)).over(wall).alias("nb"),
        F.sum(F.col("n") * F.col("n")).over(wall).alias("nsq"),
    ).filter(F.col("n") == F.col("mx")).limit(1)
    totd = F.col("tot").cast(_D)
    nbd = F.col("nb").cast(_D)
    avg = totd / nbd
    var = (nbd * F.col("nsq").cast(_D) - totd * totd) / (nbd * nbd)
    return stats.select(
        F.col("nb").cast("int").alias("n_buckets"),
        F.col("tot").cast("bigint").alias("n_rows"),
        F.col("mx").cast("bigint").alias("max_bucket"),
        F.round(F.col("mx").cast(_D) / avg, 6).alias("skew_factor"),
        F.round(F.col("mx").cast(_D) / totd, 6).alias("top_share"),
        F.round(F.sqrt(var) / avg, 6).alias("cv"),
    )


_SQL_SKEW_AUDIT = f"""
WITH per_b AS (
  SELECT CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 4)) AS BIGINT)
         % {_SKEW_BUCKETS} AS b,
         COUNT(*) AS n
  FROM lineitem
  GROUP BY 1
), stats AS (
  SELECT COUNT(*) AS nb, SUM(n) AS tot, MAX(n) AS mx,
         SUM(n * n) AS nsq
  FROM per_b
)
SELECT CAST(nb AS INT) AS n_buckets,
       CAST(tot AS BIGINT) AS n_rows,
       CAST(mx AS BIGINT) AS max_bucket,
       round(CAST(mx AS DOUBLE) / (CAST(tot AS DOUBLE) / CAST(nb AS DOUBLE)), 6)
         AS skew_factor,
       round(CAST(mx AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS top_share,
       round(sqrt((CAST(nb AS DOUBLE) * CAST(nsq AS DOUBLE)
                   - CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))
                  / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE)))
             / (CAST(tot AS DOUBLE) / CAST(nb AS DOUBLE)), 6) AS cv
FROM stats
"""


# ---------------------------------------------------------------------------
# Zipf's-law fit over the token frequency distribution
# ---------------------------------------------------------------------------

_ZIPF_TOP = 100


def _q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law exponent of the corpus token distribution: OLS slope
    of ln(freq) on ln(rank) over the top-100 tokens (count-desc,
    token tie-break) — the vocabulary-shape diagnostic for training
    corpora (natural text sits near -1; templated/synthetic text
    drifts flatter).  Both logs are frozen round-6 DECIMALS, the five
    moments are exact decimal sums, and the slope/intercept are one
    double formula each.  Scale: one explode + token hash aggregate
    (the q_word_count shape), top-k, then a 100-row reduce."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["text"])
    freqs = (
        docs.select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = (
        freqs.withColumn(
            "rank", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("token")))
        )
        .filter(F.col("rank") <= _ZIPF_TOP)
    )
    pts = top.select(
        F.round(F.log(F.col("rank").cast(_D)), 6).cast("decimal(18,6)").alias("x"),
        F.round(F.log(F.col("n").cast(_D)), 6).cast("decimal(18,6)").alias("y"),
    )
    mom = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    kd = F.col("k").cast(_D)
    slope = (kd * F.col("sxy").cast(_D) - F.col("sx").cast(_D) * F.col("sy").cast(_D)) / (
        kd * F.col("sxx").cast(_D) - F.col("sx").cast(_D) * F.col("sx").cast(_D)
    )
    intercept = (F.col("sy").cast(_D) - slope * F.col("sx").cast(_D)) / kd
    return mom.select(
        F.col("k").cast("bigint").alias("n_tokens"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("ln_c"),
    )


_SQL_ZIPF_FIT = rf"""
WITH freqs AS (
  SELECT token, COUNT(*) AS n
  FROM documents, UNNEST(string_split_regex(lower(text), '\s+')) AS u(token)
  WHERE token <> ''
  GROUP BY 1
), top AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS rank
  FROM freqs
  QUALIFY rank <= {_ZIPF_TOP}
), pts AS (
  SELECT CAST(round(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
         CAST(round(ln(CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
  FROM top
), mom AS (
  SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM pts
)
SELECT CAST(k AS BIGINT) AS n_tokens,
       round((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS zipf_slope,
       round((CAST(sy AS DOUBLE)
              - ((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                * CAST(sx AS DOUBLE)) / CAST(k AS DOUBLE), 6) AS ln_c
FROM mom
"""


# ---------------------------------------------------------------------------
# count-model overdispersion (negative-binomial method of moments)
# ---------------------------------------------------------------------------


def _q_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overdispersion diagnostics of per-user event counts by type:
    variance/mean ratio (Poisson = 1) and the negative-binomial
    method-of-moments dispersion alpha = (var - mean)/mean^2 — the
    count-model selection check before fitting arrival models.
    Per-user counts and their squares are exact integers from one
    aggregate pair; the two ratios are double formulas.  Scale: one
    (user,type) aggregate + one 5-row moment reduce."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select("user_id", "event_type")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("k")
    )
    mom = per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("s"),
        F.sum(F.col("k") * F.col("k")).alias("sq"),
    )
    nd = F.col("n").cast(_D)
    mean = F.col("s").cast(_D) / nd
    var = (nd * F.col("sq").cast(_D) - F.col("s").cast(_D) * F.col("s").cast(_D)) / (
        nd * (nd - 1.0)
    )
    return mom.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_users"),
        F.round(mean, 6).alias("mean_count"),
        F.round(var, 6).alias("var_count"),
        F.round(var / mean, 6).alias("vmr"),
        F.round((var - mean) / (mean * mean), 6).alias("nb_alpha"),
    ).orderBy("event_type")


_SQL_DISPERSION = """
WITH per_user AS (
  SELECT event_type, user_id, COUNT(*) AS k FROM events GROUP BY 1, 2
), mom AS (
  SELECT event_type, COUNT(*) AS n, SUM(k) AS s, SUM(k * k) AS sq
  FROM per_user GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_users,
       round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_count,
       round((CAST(n AS DOUBLE) * CAST(sq AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 6) AS var_count,
       round(((CAST(n AS DOUBLE) * CAST(sq AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
              / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
             / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS vmr,
       round((((CAST(n AS DOUBLE) * CAST(sq AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
              - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             / ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS nb_alpha
FROM mom
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Cronbach's alpha over the event-type "items"
# ---------------------------------------------------------------------------


def _q_cronbach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha treating the 5 event types as test items and
    per-user event counts as item scores: alpha = k/(k-1) *
    (1 - sum(var_i)/var_total) — the internal-consistency coefficient
    (do users who do more of one thing do more of everything?).
    Per-item and total variances come from exact integer moments of
    the SAME user x item count matrix (missing cells are true zeros);
    alpha is one double formula.  Scale: one (user,type) aggregate,
    one pivot to per-user totals, two tiny moment reduces."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select("user_id", "event_type")
    users = ev.select("user_id").distinct()
    types = ev.select("event_type").distinct()
    per_cell = (
        users.crossJoin(types)
        .join(
            ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("k")),
            ["user_id", "event_type"],
            "left",
        )
        .select("user_id", "event_type", F.coalesce("k", F.lit(0)).alias("k"))
    )
    item_var = per_cell.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("s"),
        F.sum(F.col("k") * F.col("k")).alias("sq"),
    )
    nd = F.col("n").cast(_D)
    ivar = (nd * F.col("sq").cast(_D) - F.col("s").cast(_D) * F.col("s").cast(_D)) / (
        nd * (nd - 1.0)
    )
    sum_ivar = item_var.select(ivar.alias("v")).agg(
        F.sum("v").alias("sum_item_var"), F.count(F.lit(1)).alias("k_items")
    )
    per_user_tot = per_cell.groupBy("user_id").agg(F.sum("k").alias("t"))
    tot_mom = per_user_tot.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("s"),
        F.sum(F.col("t") * F.col("t")).alias("sq"),
    )
    ntd = F.col("n").cast(_D)
    tvar = (ntd * F.col("sq").cast(_D) - F.col("s").cast(_D) * F.col("s").cast(_D)) / (
        ntd * (ntd - 1.0)
    )
    j = sum_ivar.crossJoin(F.broadcast(tot_mom))
    kd = F.col("k_items").cast(_D)
    alpha = (kd / (kd - 1.0)) * (1.0 - F.col("sum_item_var") / tvar)
    return j.select(
        F.col("k_items").cast("int").alias("k_items"),
        F.col("n").cast("bigint").alias("n_users"),
        F.round(F.col("sum_item_var"), 6).alias("sum_item_var"),
        F.round(tvar, 6).alias("total_var"),
        F.round(alpha, 6).alias("cronbach_alpha"),
    )


_SQL_CRONBACH = """
WITH per_cell AS MATERIALIZED (
  SELECT u.user_id, t.event_type, COALESCE(k.k, 0) AS k
  FROM (SELECT DISTINCT user_id FROM events) u
  CROSS JOIN (SELECT DISTINCT event_type FROM events) t
  LEFT JOIN (SELECT user_id, event_type, COUNT(*) AS k
             FROM events GROUP BY 1, 2) k
    ON k.user_id = u.user_id AND k.event_type = t.event_type
), item_var AS (
  SELECT event_type,
         (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(k * k) AS DOUBLE)
          - CAST(SUM(k) AS DOUBLE) * CAST(SUM(k) AS DOUBLE))
         / (CAST(COUNT(*) AS DOUBLE) * (CAST(COUNT(*) AS DOUBLE) - 1.0)) AS v
  FROM per_cell GROUP BY 1
), sum_ivar AS (
  SELECT SUM(v) AS sum_item_var, COUNT(*) AS k_items FROM item_var
), tot_mom AS (
  SELECT COUNT(*) AS n, SUM(t) AS s, SUM(t * t) AS sq FROM (
    SELECT user_id, SUM(k) AS t FROM per_cell GROUP BY 1
  )
)
SELECT CAST(k_items AS INT) AS k_items,
       CAST(n AS BIGINT) AS n_users,
       round(sum_item_var, 6) AS sum_item_var,
       round((CAST(n AS DOUBLE) * CAST(sq AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 6) AS total_var,
       round((CAST(k_items AS DOUBLE) / (CAST(k_items AS DOUBLE) - 1.0))
             * (1.0 - sum_item_var
                / ((CAST(n AS DOUBLE) * CAST(sq AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                   / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))), 6)
         AS cronbach_alpha
FROM sum_ivar CROSS JOIN tot_mom
"""


# ---------------------------------------------------------------------------
# MMD^2 with a quadratic kernel, expanded into exact moments
# ---------------------------------------------------------------------------


def _q_mmd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum mean discrepancy (biased V-statistic) between the
    'view' and 'purchase' value samples under the quadratic kernel
    k(x,y) = (1 + xy)^2 — the kernel two-sample test WITHOUT the n^2
    pair join: the kernel expands to 1 + 2xy + x^2 y^2, so every
    expectation is a product of per-sample moments, and the moments
    (in integer cents up to the 2nd power) come from ONE aggregate.
    MMD^2 = Exx' + Eyy' - 2Exy with identically-parenthesized double
    formulas.  Scale: one 6-moment hash aggregate, period."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").filter(
        F.col("event_type").isin("view", "purchase")
    ).select("event_type", (money("value")).cast(_D).alias("x"))
    # moments in DOLLARS as doubles would break exactness; use cents
    evc = cat.table(spark, "events").filter(
        F.col("event_type").isin("view", "purchase")
    ).select("event_type", (money("value") * 100).cast("long").alias("c"))
    mom = evc.agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("event_type") == "view", F.col("c"))).alias("s1"),
        F.sum(
            F.when(F.col("event_type") == "view", F.col("c") * F.col("c"))
        ).alias("q1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("event_type") == "purchase", F.col("c"))).alias("s2"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("c") * F.col("c"))
        ).alias("q2"),
    )
    m1 = F.col("s1").cast(_D) / F.col("n1").cast(_D) / 100.0
    m2 = F.col("s2").cast(_D) / F.col("n2").cast(_D) / 100.0
    r1 = F.col("q1").cast(_D) / F.col("n1").cast(_D) / 10000.0
    r2 = F.col("q2").cast(_D) / F.col("n2").cast(_D) / 10000.0
    exx = 1.0 + 2.0 * m1 * m1 + r1 * r1
    eyy = 1.0 + 2.0 * m2 * m2 + r2 * r2
    exy = 1.0 + 2.0 * m1 * m2 + r1 * r2
    return mom.select(
        F.col("n1").cast("bigint").alias("n_view"),
        F.col("n2").cast("bigint").alias("n_purchase"),
        F.round(exx, 6).alias("e_xx"),
        F.round(eyy, 6).alias("e_yy"),
        F.round(exy, 6).alias("e_xy"),
        F.round(exx + eyy - 2.0 * exy, 6).alias("mmd2"),
    )


_SQL_MMD = """
WITH mom AS (
  SELECT SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN event_type = 'view' THEN c END) AS s1,
         SUM(CASE WHEN event_type = 'view' THEN c * c END) AS q1,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n2,
         SUM(CASE WHEN event_type = 'purchase' THEN c END) AS s2,
         SUM(CASE WHEN event_type = 'purchase' THEN c * c END) AS q2
  FROM (
    SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM events WHERE event_type IN ('view', 'purchase')
  )
)
SELECT CAST(n1 AS BIGINT) AS n_view, CAST(n2 AS BIGINT) AS n_purchase,
       round(1.0 + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0)
                       * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0)
             + (CAST(q1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 10000.0)
               * (CAST(q1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 10000.0), 6) AS e_xx,
       round(1.0 + 2.0 * (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 100.0)
                       * (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 100.0)
             + (CAST(q2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 10000.0)
               * (CAST(q2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 10000.0), 6) AS e_yy,
       round(1.0 + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0)
                       * (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 100.0)
             + (CAST(q1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 10000.0)
               * (CAST(q2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 10000.0), 6) AS e_xy,
       round((1.0 + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0)
                        * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0)
              + (CAST(q1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 10000.0)
                * (CAST(q1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 10000.0))
             + (1.0 + 2.0 * (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 100.0)
                          * (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 100.0)
                + (CAST(q2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 10000.0)
                  * (CAST(q2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 10000.0))
             - 2.0 * (1.0 + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0)
                                * (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 100.0)
                      + (CAST(q1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 10000.0)
                        * (CAST(q2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 10000.0)), 6)
         AS mmd2
FROM mom
"""


# ---------------------------------------------------------------------------
# Cochran-Mantel-Haenszel test across nation strata
# ---------------------------------------------------------------------------


def _q_cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel test of (top-half acctbal within
    nation) x (has an URGENT order) association, stratified by the 25
    customer nations — the confounder-adjusted 2x2 test (a naive
    pooled chi-square would be Simpson-vulnerable).  Per-stratum cell
    counts a,b,c,d are exact integers; each stratum's E[a] and
    variance term are frozen to round-6 DECIMALS so the two
    accumulations are exact order-free decimal sums; the final CMH
    statistic is one double formula.  Scale: one per-customer rollup,
    one nation-partitioned median-rank window, one 25-stratum
    aggregate."""
    cat = Catalog(sf_dir)
    cust = scan(spark, cat, "customer", ["c_custkey", "c_nationkey", "c_acctbal"])
    orders = scan(spark, cat, "orders", ["o_custkey", "o_orderpriority"])
    urgent = orders.groupBy("o_custkey").agg(
        F.max((F.col("o_orderpriority") == "1-URGENT").cast("int")).alias("y")
    )
    wn = Window.partitionBy("c_nationkey").orderBy(
        F.desc(money("c_acctbal")), "c_custkey"
    )
    wcnt = Window.partitionBy("c_nationkey")
    base = (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left")
        .select(
            "c_nationkey",
            "c_custkey",
            money("c_acctbal").alias("bal"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
        .select(
            "c_nationkey",
            "y",
            (
                F.row_number().over(
                    Window.partitionBy("c_nationkey").orderBy(F.desc("bal"), "c_custkey")
                )
                * 2
                <= F.count(F.lit(1)).over(wcnt)
            )
            .cast("int")
            .alias("e"),
        )
    )
    cells = base.groupBy("c_nationkey").agg(
        F.sum(F.when((F.col("e") == 1) & (F.col("y") == 1), 1).otherwise(0)).alias("a"),
        F.sum(F.when((F.col("e") == 1) & (F.col("y") == 0), 1).otherwise(0)).alias("b"),
        F.sum(F.when((F.col("e") == 0) & (F.col("y") == 1), 1).otherwise(0)).alias("c"),
        F.sum(F.when((F.col("e") == 0) & (F.col("y") == 0), 1).otherwise(0)).alias("d"),
    )
    n_i = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    ea = (
        (F.col("a") + F.col("b")).cast(_D)
        * (F.col("a") + F.col("c")).cast(_D)
        / n_i.cast(_D)
    )
    vr = (
        (F.col("a") + F.col("b")).cast(_D)
        * (F.col("c") + F.col("d")).cast(_D)
        * (F.col("a") + F.col("c")).cast(_D)
        * (F.col("b") + F.col("d")).cast(_D)
        / (n_i.cast(_D) * n_i.cast(_D) * (n_i.cast(_D) - 1.0))
    )
    frozen = cells.select(
        "a",
        F.round(ea, 6).cast("decimal(18,6)").alias("ea6"),
        F.round(vr, 6).cast("decimal(18,6)").alias("vr6"),
    )
    agg = frozen.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("a").alias("sa"),
        F.sum("ea6").alias("sea"),
        F.sum("vr6").alias("svr"),
    )
    num = F.col("sa").cast(_D) - F.col("sea").cast(_D)
    stat = num * num / F.col("svr").cast(_D)
    return agg.select(
        F.col("k").cast("int").alias("n_strata"),
        F.col("sa").cast("bigint").alias("sum_a"),
        F.round(F.col("sea").cast(_D), 6).alias("sum_expected"),
        F.round(F.col("svr").cast(_D), 6).alias("sum_var"),
        F.round(stat, 6).alias("cmh_stat"),
    )


_SQL_CMH_TEST = """
WITH urgent AS (
  SELECT o_custkey,
         MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS y
  FROM orders GROUP BY 1
), base AS (
  SELECT c_nationkey, COALESCE(y, 0) AS y,
         CASE WHEN ROW_NUMBER() OVER (
                PARTITION BY c_nationkey
                ORDER BY CAST(c_acctbal AS DECIMAL(18,2)) DESC, c_custkey) * 2
              <= COUNT(*) OVER (PARTITION BY c_nationkey)
              THEN 1 ELSE 0 END AS e
  FROM customer LEFT JOIN urgent ON c_custkey = o_custkey
), cells AS (
  SELECT c_nationkey,
         SUM(CASE WHEN e = 1 AND y = 1 THEN 1 ELSE 0 END) AS a,
         SUM(CASE WHEN e = 1 AND y = 0 THEN 1 ELSE 0 END) AS b,
         SUM(CASE WHEN e = 0 AND y = 1 THEN 1 ELSE 0 END) AS c,
         SUM(CASE WHEN e = 0 AND y = 0 THEN 1 ELSE 0 END) AS d
  FROM base GROUP BY 1
), frozen AS (
  SELECT a,
         CAST(round(CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
                    / CAST(a + b + c + d AS DOUBLE), 6) AS DECIMAL(18,6)) AS ea6,
         CAST(round(CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                    * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)
                    / (CAST(a + b + c + d AS DOUBLE)
                       * CAST(a + b + c + d AS DOUBLE)
                       * (CAST(a + b + c + d AS DOUBLE) - 1.0)), 6)
              AS DECIMAL(18,6)) AS vr6
  FROM cells
), agg AS (
  SELECT COUNT(*) AS k, SUM(a) AS sa, SUM(ea6) AS sea, SUM(vr6) AS svr
  FROM frozen
)
SELECT CAST(k AS INT) AS n_strata, CAST(sa AS BIGINT) AS sum_a,
       round(CAST(sea AS DOUBLE), 6) AS sum_expected,
       round(CAST(svr AS DOUBLE), 6) AS sum_var,
       round((CAST(sa AS DOUBLE) - CAST(sea AS DOUBLE))
             * (CAST(sa AS DOUBLE) - CAST(sea AS DOUBLE))
             / CAST(svr AS DOUBLE), 6) AS cmh_stat
FROM agg
"""


# ---------------------------------------------------------------------------
# NDCG@100 of the acctbal ranking against order-count relevance
# ---------------------------------------------------------------------------

_NDCG_K = 100


def _q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@100 of ranking customers by account balance when the true
    relevance is their order count — the position-discounted ranking
    metric beside q_auc_eval's threshold-free and q_pr_curve's
    threshold-swept views.  Discounts 1/log2(i+1) are frozen round-6
    DECIMALS, so DCG and ideal DCG are exact decimal sums of
    integer-relevance x frozen-weight products; NDCG is one double
    division.  Scale: one orders rollup + two rank windows + a
    100-row position join."""
    cat = Catalog(sf_dir)
    cust = scan(spark, cat, "customer", ["c_custkey", "c_acctbal"])
    orders = scan(spark, cat, "orders", ["o_custkey"])
    rel = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("rel"))
    base = cust.join(rel, cust.c_custkey == rel.o_custkey, "left").select(
        "c_custkey",
        money("c_acctbal").alias("bal"),
        F.coalesce("rel", F.lit(0)).alias("rel"),
    )
    ranked = base.select(
        "rel",
        F.row_number()
        .over(Window.orderBy(F.desc("bal"), "c_custkey"))
        .alias("i"),
    ).filter(F.col("i") <= _NDCG_K)
    ideal = base.select(
        F.col("rel").alias("irel"),
        F.row_number()
        .over(Window.orderBy(F.desc("rel"), "c_custkey"))
        .alias("i"),
    ).filter(F.col("i") <= _NDCG_K)
    w = F.round(
        1.0 / F.log2(F.col("i").cast(_D) + 1.0), 6
    ).cast("decimal(18,6)")
    dcg = ranked.select((F.col("rel") * w).alias("term")).agg(
        F.sum("term").alias("dcg")
    )
    idcg = ideal.select((F.col("irel") * w).alias("term")).agg(
        F.sum("term").alias("idcg")
    )
    j = dcg.crossJoin(F.broadcast(idcg))
    return j.select(
        F.lit(_NDCG_K).cast("int").alias("k"),
        F.round(F.col("dcg").cast(_D), 6).alias("dcg"),
        F.round(F.col("idcg").cast(_D), 6).alias("idcg"),
        F.round(F.col("dcg").cast(_D) / F.col("idcg").cast(_D), 6).alias("ndcg"),
    )


_SQL_NDCG = f"""
WITH rel AS (
  SELECT o_custkey, COUNT(*) AS rel FROM orders GROUP BY 1
), base AS MATERIALIZED (
  SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
         COALESCE(rel, 0) AS rel
  FROM customer LEFT JOIN rel ON c_custkey = o_custkey
), ranked AS (
  SELECT rel, ROW_NUMBER() OVER (ORDER BY bal DESC, c_custkey) AS i FROM base
  QUALIFY i <= {_NDCG_K}
), ideal AS (
  SELECT rel AS irel, ROW_NUMBER() OVER (ORDER BY rel DESC, c_custkey) AS i FROM base
  QUALIFY i <= {_NDCG_K}
), dcg AS (
  SELECT SUM(rel * CAST(round(1.0 / log2(CAST(i AS DOUBLE) + 1.0), 6)
                        AS DECIMAL(18,6))) AS dcg
  FROM ranked
), idcg AS (
  SELECT SUM(irel * CAST(round(1.0 / log2(CAST(i AS DOUBLE) + 1.0), 6)
                         AS DECIMAL(18,6))) AS idcg
  FROM ideal
)
SELECT CAST({_NDCG_K} AS INT) AS k,
       round(CAST(dcg AS DOUBLE), 6) AS dcg,
       round(CAST(idcg AS DOUBLE), 6) AS idcg,
       round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6) AS ndcg
FROM dcg CROSS JOIN idcg
"""


# ---------------------------------------------------------------------------
# Gumbel extreme-value fit on daily maxima (method of moments)
# ---------------------------------------------------------------------------

# frozen constants: sqrt(6)/pi and the Euler-Mascheroni gamma
_EVT_SQRT6_PI = 0.779697
_EVT_GAMMA = 0.577216
# -ln(-ln(0.99)): the 99% Gumbel quantile multiplier
_EVT_Q99 = 4.600149


def _q_evt_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value fit on the daily maxima of purchase
    values (method of moments): beta = s*sqrt(6)/pi, mu = m - gamma*
    beta, and the implied 99th-percentile daily max mu + beta*4.600149
    — block-maxima EVT, the tail-risk counterpart to q_hill_tail's
    full-tail index.  Daily maxima are exact decimals; their two
    moments are exact integer-cent sums; the three estimates are
    double formulas with frozen constants.  Scale: one daily-max
    aggregate + one 2-moment reduce."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        (F.max(money("value")) * 100).cast("long").alias("mx")
    )
    mom = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("mx").alias("s"),
        F.sum(F.col("mx") * F.col("mx")).alias("sq"),
    )
    nd = F.col("n").cast(_D)
    m = F.col("s").cast(_D) / nd / 100.0
    var = (nd * F.col("sq").cast(_D) - F.col("s").cast(_D) * F.col("s").cast(_D)) / (
        nd * (nd - 1.0)
    ) / 10000.0
    beta = F.lit(_EVT_SQRT6_PI) * F.sqrt(var)
    mu = m - F.lit(_EVT_GAMMA) * beta
    return mom.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(m, 6).alias("mean_daily_max"),
        F.round(beta, 6).alias("gumbel_beta"),
        F.round(mu, 6).alias("gumbel_mu"),
        F.round(mu + beta * F.lit(_EVT_Q99), 6).alias("p99_daily_max"),
    )


_SQL_EVT_GUMBEL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(MAX(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS mx
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), mom AS (
  SELECT COUNT(*) AS n, SUM(mx) AS s, SUM(mx * mx) AS sq FROM daily
)
SELECT CAST(n AS BIGINT) AS n_days,
       round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6) AS mean_daily_max,
       round({_EVT_SQRT6_PI} * sqrt((CAST(n AS DOUBLE) * CAST(sq AS DOUBLE)
                                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
                                    / 10000.0), 6) AS gumbel_beta,
       round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0
             - {_EVT_GAMMA} * ({_EVT_SQRT6_PI}
               * sqrt((CAST(n AS DOUBLE) * CAST(sq AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
                      / 10000.0)), 6) AS gumbel_mu,
       round((CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0
              - {_EVT_GAMMA} * ({_EVT_SQRT6_PI}
                * sqrt((CAST(n AS DOUBLE) * CAST(sq AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                       / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
                       / 10000.0)))
             + ({_EVT_SQRT6_PI}
                * sqrt((CAST(n AS DOUBLE) * CAST(sq AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                       / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
                       / 10000.0)) * {_EVT_Q99}, 6) AS p99_daily_max
FROM mom
"""


# ---------------------------------------------------------------------------
# Value-at-Risk and expected shortfall, exact discrete
# ---------------------------------------------------------------------------

_VAR_Q = 95


def _q_var_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-at-Risk (exact discrete P95) and expected shortfall (mean
    of the worst 5% tail) of purchase values — the financial risk pair
    where ES needs PARTIAL counts at the cutoff: the tail is exactly
    the top n - rank95 observations, so copies of the cutoff value
    beyond rank95 enter the tail sum with multiplicity cum_cut -
    rank95.  Everything is exact integer cents on the compressed
    domain; ES is one division.  Scale: one hash aggregate + one
    cumulative window + one tail reduce."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").filter(F.col("event_type") == "purchase")
    per_v = ev.select((money("value") * 100).cast("long").alias("c")).groupBy(
        "c"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    wc = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = per_v.select(
        "c",
        "cnt",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    rank = F.expr(f"({_VAR_Q} * n + 99) div 100")
    cut = cum.filter((rank > F.col("cum") - F.col("cnt")) & (rank <= F.col("cum"))).select(
        F.col("c").alias("cut"),
        F.col("cum").alias("cum_cut"),
        F.col("n").alias("n"),
        rank.alias("rank95"),
    )
    tail_above = (
        per_v.crossJoin(F.broadcast(cut))
        .filter(F.col("c") > F.col("cut"))
        .agg(
            F.coalesce(F.sum(F.col("c") * F.col("cnt")), F.lit(0)).alias("s_above"),
            F.coalesce(F.sum("cnt"), F.lit(0)).alias("n_above"),
        )
    )
    j = tail_above.crossJoin(F.broadcast(cut))
    bnd = F.col("cum_cut") - F.col("rank95")
    tail_n = F.col("n_above") + bnd
    tail_s = F.col("s_above") + F.col("cut") * bnd
    return j.select(
        F.col("n").cast("bigint").alias("n_obs"),
        (F.col("cut").cast(_D) / 100.0).alias("var95"),
        F.col("n_above").cast("bigint").alias("n_strictly_above"),
        tail_n.cast("bigint").alias("n_tail"),
        F.round(tail_s.cast(_D) / tail_n.cast(_D) / 100.0, 6).alias("es95"),
    )


_SQL_VAR_ES = f"""
WITH per_v AS MATERIALIZED (
  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c, COUNT(*) AS cnt
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), cum AS (
  SELECT c, cnt,
         SUM(cnt) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER () AS n
  FROM per_v
), cut AS (
  SELECT c AS cut, cum AS cum_cut, n, ({_VAR_Q} * n + 99) // 100 AS rank95
  FROM cum
  WHERE ({_VAR_Q} * n + 99) // 100 > cum - cnt AND ({_VAR_Q} * n + 99) // 100 <= cum
), tail_above AS (
  SELECT COALESCE(SUM(c * cnt), 0) AS s_above, COALESCE(SUM(cnt), 0) AS n_above
  FROM per_v CROSS JOIN cut WHERE c > cut
)
SELECT CAST(n AS BIGINT) AS n_obs,
       CAST(cut AS DOUBLE) / 100.0 AS var95,
       CAST(n_above AS BIGINT) AS n_strictly_above,
       CAST(n_above + (cum_cut - rank95) AS BIGINT) AS n_tail,
       round(CAST(s_above + cut * (cum_cut - rank95) AS DOUBLE)
             / CAST(n_above + (cum_cut - rank95) AS DOUBLE) / 100.0, 6) AS es95
FROM tail_above CROSS JOIN cut
"""


# ---------------------------------------------------------------------------
# empirical-Bayes (beta-binomial) shrinkage of per-nation rates
# ---------------------------------------------------------------------------


def _q_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-nation urgent-order rates
    toward the portfolio prior: fit a beta prior by method of moments
    on the 25 raw rates (m, v -> alpha+beta = m(1-m)/v - 1), then
    report each nation's posterior-mean rate (k + alpha)/(n + alpha +
    beta) — the small-sample-stabilized leaderboard every marketplace
    runs.  Raw rates and their moments are frozen to round-6 decimals
    (order-free sums); alpha/beta are computed once and re-frozen, so
    the shrunken rates are identical double formulas.  Scale: one
    per-customer rollup, one 25-row rate frame, two tiny reduces."""
    cat = Catalog(sf_dir)
    cust = scan(spark, cat, "customer", ["c_custkey", "c_nationkey"])
    nation = scan(spark, cat, "nation", ["n_nationkey", "n_name"])
    orders = scan(spark, cat, "orders", ["o_custkey", "o_orderpriority"])
    urgent = orders.groupBy("o_custkey").agg(
        F.max((F.col("o_orderpriority") == "1-URGENT").cast("int")).alias("y")
    )
    per_nation = (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce("y", F.lit(0))).alias("k"),
        )
    )
    rates = per_nation.select(
        "c_nationkey",
        "n",
        "k",
        F.round(F.col("k").cast(_D) / F.col("n").cast(_D), 6)
        .cast("decimal(18,6)")
        .alias("r"),
    )
    prior = rates.agg(
        F.count(F.lit(1)).alias("g"),
        F.sum("r").alias("sr"),
        F.sum(F.col("r") * F.col("r")).alias("srr"),
    )
    gd = F.col("g").cast(_D)
    m = F.col("sr").cast(_D) / gd
    v = (gd * F.col("srr").cast(_D) - F.col("sr").cast(_D) * F.col("sr").cast(_D)) / (
        gd * (gd - 1.0)
    )
    s = m * (1.0 - m) / v - 1.0
    pf = prior.select(
        F.round(m * s, 6).cast("decimal(18,6)").alias("alpha"),
        F.round((1.0 - m) * s, 6).cast("decimal(18,6)").alias("beta"),
        F.round(m, 6).alias("prior_mean"),
    )
    j = rates.crossJoin(F.broadcast(pf)).join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    )
    shrunk = (F.col("k").cast(_D) + F.col("alpha").cast(_D)) / (
        F.col("n").cast(_D) + F.col("alpha").cast(_D) + F.col("beta").cast(_D)
    )
    return j.select(
        "n_name",
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("k").cast("bigint").alias("n_urgent"),
        F.col("r").cast(_D).alias("raw_rate"),
        F.round(shrunk, 6).alias("shrunk_rate"),
        F.col("prior_mean").alias("prior_mean"),
    ).orderBy("n_name")


_SQL_EB_SHRINKAGE = """
WITH urgent AS (
  SELECT o_custkey,
         MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS y
  FROM orders GROUP BY 1
), per_nation AS (
  SELECT c_nationkey, COUNT(*) AS n, SUM(COALESCE(y, 0)) AS k
  FROM customer LEFT JOIN urgent ON c_custkey = o_custkey
  GROUP BY 1
), rates AS MATERIALIZED (
  SELECT c_nationkey, n, k,
         CAST(round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6)
              AS DECIMAL(18,6)) AS r
  FROM per_nation
), prior AS MATERIALIZED (
  SELECT CAST(round((CAST(sr AS DOUBLE) / g)
                    * ((CAST(sr AS DOUBLE) / g) * (1.0 - CAST(sr AS DOUBLE) / g)
                       / ((g * CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE)
                           * CAST(sr AS DOUBLE)) / (g * (g - 1.0))) - 1.0), 6)
              AS DECIMAL(18,6)) AS alpha,
         CAST(round((1.0 - CAST(sr AS DOUBLE) / g)
                    * ((CAST(sr AS DOUBLE) / g) * (1.0 - CAST(sr AS DOUBLE) / g)
                       / ((g * CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE)
                           * CAST(sr AS DOUBLE)) / (g * (g - 1.0))) - 1.0), 6)
              AS DECIMAL(18,6)) AS beta,
         round(CAST(sr AS DOUBLE) / g, 6) AS prior_mean
  FROM (
    SELECT CAST(COUNT(*) AS DOUBLE) AS g, SUM(r) AS sr, SUM(r * r) AS srr
    FROM rates
  )
)
SELECT n_name,
       CAST(n AS BIGINT) AS n_customers,
       CAST(k AS BIGINT) AS n_urgent,
       CAST(r AS DOUBLE) AS raw_rate,
       round((CAST(k AS DOUBLE) + CAST(alpha AS DOUBLE))
             / (CAST(n AS DOUBLE) + CAST(alpha AS DOUBLE)
                + CAST(beta AS DOUBLE)), 6) AS shrunk_rate,
       prior_mean
FROM rates CROSS JOIN prior
JOIN nation ON n_nationkey = c_nationkey
ORDER BY n_name
"""


# ---------------------------------------------------------------------------
# Laspeyres / Paasche / Fisher price indexes, 1996 -> 1997
# ---------------------------------------------------------------------------

_PI_Y0 = 1996
_PI_Y1 = 1997


def _q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres, Paasche, and Fisher price indexes for 1997 vs the
    1996 base year over the parts traded in BOTH years: per-part unit
    prices are frozen round-6 decimals (sum extprice / sum qty per
    part-year), quantities are exact integers, so all four cross
    baskets (p0q0, p1q0, p0q1, p1q1) are exact decimal sums and each
    index is one double division (Fisher = sqrt of the product) —
    the canonical inflation arithmetic.  Scale: one lineitem+orders
    aggregate to the part-year grain + one part-keyed join."""
    cat = Catalog(sf_dir)
    li = scan(
        spark, cat, "lineitem", ["l_orderkey", "l_partkey", "l_extendedprice", "l_quantity"]
    )
    orders = scan(spark, cat, "orders", ["o_orderkey", "o_orderdate"])
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "l_partkey",
            F.year("o_orderdate").alias("yr"),
            money("l_extendedprice").alias("s"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        .filter(F.col("yr").isin(_PI_Y0, _PI_Y1))
    )
    per_py = base.groupBy("l_partkey", "yr").agg(
        F.sum("s").alias("s"), F.sum("q").alias("q")
    ).select(
        "l_partkey",
        "yr",
        "q",
        F.round(F.col("s").cast(_D) / F.col("q").cast(_D), 6)
        .cast("decimal(18,6)")
        .alias("p"),
    )
    y0 = per_py.filter(F.col("yr") == _PI_Y0).select(
        "l_partkey", F.col("p").alias("p0"), F.col("q").alias("q0")
    )
    y1 = per_py.filter(F.col("yr") == _PI_Y1).select(
        F.col("l_partkey").alias("pk1"), F.col("p").alias("p1"), F.col("q").alias("q1")
    )
    both = y0.join(y1, y0.l_partkey == y1.pk1)
    baskets = both.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(F.col("p0") * F.col("q0")).alias("p0q0"),
        F.sum(F.col("p1") * F.col("q0")).alias("p1q0"),
        F.sum(F.col("p0") * F.col("q1")).alias("p0q1"),
        F.sum(F.col("p1") * F.col("q1")).alias("p1q1"),
    )
    lasp = F.col("p1q0").cast(_D) / F.col("p0q0").cast(_D)
    paas = F.col("p1q1").cast(_D) / F.col("p0q1").cast(_D)
    return baskets.select(
        F.col("n_parts").cast("bigint").alias("n_parts"),
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
    )


_SQL_PRICE_INDEX = f"""
WITH base AS (
  SELECT l_partkey, year(o_orderdate) AS yr,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS s,
         CAST(l_quantity AS BIGINT) AS q
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE year(o_orderdate) IN ({_PI_Y0}, {_PI_Y1})
), per_py AS (
  SELECT l_partkey, yr, SUM(q) AS q,
         CAST(round(CAST(SUM(s) AS DOUBLE) / CAST(SUM(q) AS DOUBLE), 6)
              AS DECIMAL(18,6)) AS p
  FROM base GROUP BY 1, 2
), both_y AS (
  SELECT y0.l_partkey, y0.p AS p0, y0.q AS q0, y1.p AS p1, y1.q AS q1
  FROM (SELECT * FROM per_py WHERE yr = {_PI_Y0}) y0
  JOIN (SELECT * FROM per_py WHERE yr = {_PI_Y1}) y1 USING (l_partkey)
), baskets AS (
  SELECT COUNT(*) AS n_parts,
         SUM(p0 * q0) AS p0q0, SUM(p1 * q0) AS p1q0,
         SUM(p0 * q1) AS p0q1, SUM(p1 * q1) AS p1q1
  FROM both_y
)
SELECT CAST(n_parts AS BIGINT) AS n_parts,
       round(CAST(p1q0 AS DOUBLE) / CAST(p0q0 AS DOUBLE), 6) AS laspeyres,
       round(CAST(p1q1 AS DOUBLE) / CAST(p0q1 AS DOUBLE), 6) AS paasche,
       round(sqrt((CAST(p1q0 AS DOUBLE) / CAST(p0q0 AS DOUBLE))
                  * (CAST(p1q1 AS DOUBLE) / CAST(p0q1 AS DOUBLE))), 6) AS fisher
FROM baskets
"""


# ---------------------------------------------------------------------------
# grid-DBSCAN density classification (core / border / noise)
# ---------------------------------------------------------------------------

_DB_EPS = 1.5
_DB_MINPTS = 4
_DB_SPAN = 100.0


def _db_u(key: F.Column, salt: str) -> F.Column:
    """md5-uniform in [0,1) — the engine's no-RNG convention (the
    q_geo_nearest generator on a planar [0,100)^2 space)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(key.cast("string"), F.lit(salt))), 1, 15), 16, 10
        ).cast("double")
        / F.pow(F.lit(2.0), F.lit(60))
    )


def _q_dbscan_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN density classification of customers on the deterministic
    md5 plane: core (>= 4 points within eps=1.5, self included),
    border (non-core with a core neighbor), noise — the density
    clustering primitive, done the scalable way: grid cells of size
    eps so candidates come from a 3x3 CELL EQUI-JOIN (x9 replication),
    never an all-pairs distance join; the eps test compares the
    ROUND-6 squared distance so a last-ulp difference cannot flip
    membership (the q_geo_nearest trick).  Output: per-class point
    counts and exact mean neighbor counts.  Scale: the cell id is the
    shuffle key; density per cell bounds the fan-in."""
    cat = Catalog(sf_dir)
    cust = scan(spark, cat, "customer", ["c_custkey"]).select(
        "c_custkey",
        (_db_u(F.col("c_custkey"), "dbx") * _DB_SPAN).alias("x"),
        (_db_u(F.col("c_custkey"), "dby") * _DB_SPAN).alias("y"),
    )
    offs = F.array(
        *[
            F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )
    probe = cust.select(
        F.col("c_custkey").alias("p"),
        "x",
        "y",
        F.explode(offs).alias("o"),
    ).select(
        "p",
        "x",
        "y",
        (
            (F.floor(F.col("x") / _DB_EPS) + F.col("o.dx")) * 1000
            + (F.floor(F.col("y") / _DB_EPS) + F.col("o.dy"))
        ).alias("cell"),
    )
    build = cust.select(
        F.col("c_custkey").alias("q"),
        F.col("x").alias("qx"),
        F.col("y").alias("qy"),
        (
            F.floor(F.col("x") / _DB_EPS) * 1000 + F.floor(F.col("y") / _DB_EPS)
        ).alias("cell"),
    )
    d2 = F.round(
        (F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx"))
        + (F.col("y") - F.col("qy")) * (F.col("y") - F.col("qy")),
        6,
    )
    pairs = (
        probe.join(build, "cell")
        .filter(d2 <= F.lit(_DB_EPS * _DB_EPS))
        .select("p", "q")
    )
    ncount = pairs.groupBy("p").agg(F.count(F.lit(1)).alias("nn"))
    flags = ncount.select(
        "p", "nn", (F.col("nn") >= _DB_MINPTS).alias("is_core")
    )
    cores = flags.filter(F.col("is_core")).select(F.col("p").alias("q"))
    has_core_nb = (
        pairs.join(cores, "q").select("p").distinct().withColumn("near_core", F.lit(True))
    )
    classed = (
        flags.join(has_core_nb, "p", "left")
        .select(
            "nn",
            F.when(F.col("is_core"), "core")
            .when(F.coalesce("near_core", F.lit(False)), "border")
            .otherwise("noise")
            .alias("cls"),
        )
    )
    return (
        classed.groupBy("cls")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("nn").alias("snn"),
        )
        .select(
            "cls",
            F.col("n_points").cast("bigint").alias("n_points"),
            F.round(F.col("snn").cast(_D) / F.col("n_points").cast(_D), 6).alias(
                "mean_neighbors"
            ),
        )
        .orderBy("cls")
    )


_SQL_DBSCAN_CORE = f"""
WITH cust AS MATERIALIZED (
  SELECT c_custkey,
         CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR) || 'dbx'), 1, 15))
              AS BIGINT) / power(2.0, 60) * {_DB_SPAN} AS x,
         CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR) || 'dby'), 1, 15))
              AS BIGINT) / power(2.0, 60) * {_DB_SPAN} AS y
  FROM customer
), probe AS (
  SELECT c_custkey AS p, x, y,
         (floor(x / {_DB_EPS}) + o.dx) * 1000 + (floor(y / {_DB_EPS}) + o.dy) AS cell
  FROM cust CROSS JOIN (
    SELECT dx, dy FROM (VALUES (-1),(0),(1)) a(dx), (VALUES (-1),(0),(1)) b(dy)
  ) o
), build AS (
  SELECT c_custkey AS q, x AS qx, y AS qy,
         floor(x / {_DB_EPS}) * 1000 + floor(y / {_DB_EPS}) AS cell
  FROM cust
), pairs AS MATERIALIZED (
  SELECT p, q FROM probe JOIN build USING (cell)
  WHERE round((x - qx) * (x - qx) + (y - qy) * (y - qy), 6)
        <= {_DB_EPS * _DB_EPS}
), flags AS MATERIALIZED (
  SELECT p, COUNT(*) AS nn, COUNT(*) >= {_DB_MINPTS} AS is_core
  FROM pairs GROUP BY 1
), has_core_nb AS (
  SELECT DISTINCT pr.p FROM pairs pr
  JOIN flags f ON f.p = pr.q AND f.is_core
)
SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_points,
       round(CAST(SUM(nn) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS mean_neighbors
FROM (
  SELECT f.nn,
         CASE WHEN f.is_core THEN 'core'
              WHEN h.p IS NOT NULL THEN 'border'
              ELSE 'noise' END AS cls
  FROM flags f LEFT JOIN has_core_nb h ON h.p = f.p
)
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# sample-ratio mismatch check
# ---------------------------------------------------------------------------


def _q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check on the md5 A/B split of customers:
    chi-square of the observed arm counts against the designed 50/50 —
    the first health check every experimentation platform runs before
    reading any metric.  Counts exact; the statistic is one double
    formula; the flag compares against the frozen 5% critical value
    3.841459.  Scale: one 2-cell aggregate."""
    cat = Catalog(sf_dir)
    cust = scan(spark, cat, "customer", ["c_custkey"])
    agg = cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.substring(
                    F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit("srm"))),
                    1,
                    1,
                ).isin(*list("01234567")),
                1,
            ).otherwise(0)
        ).alias("na"),
    )
    nd = F.col("n").cast(_D)
    nad = F.col("na").cast(_D)
    nbd = nd - nad
    e = nd / 2.0
    chi2 = (nad - e) * (nad - e) / e + (nbd - e) * (nbd - e) / e
    return agg.select(
        F.col("n").cast("bigint").alias("n_units"),
        F.col("na").cast("bigint").alias("n_a"),
        (F.col("n") - F.col("na")).cast("bigint").alias("n_b"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 3.841459).alias("srm_flag"),
    )


_SQL_SRM_CHECK = """
WITH agg AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN substr(md5(CAST(c_custkey AS VARCHAR) || 'srm'), 1, 1)
                  BETWEEN '0' AND '7' THEN 1 ELSE 0 END) AS na
  FROM customer
)
SELECT CAST(n AS BIGINT) AS n_units, CAST(na AS BIGINT) AS n_a,
       CAST(n - na AS BIGINT) AS n_b,
       round((CAST(na AS DOUBLE) - CAST(n AS DOUBLE) / 2.0)
             * (CAST(na AS DOUBLE) - CAST(n AS DOUBLE) / 2.0)
             / (CAST(n AS DOUBLE) / 2.0)
             + ((CAST(n AS DOUBLE) - CAST(na AS DOUBLE))
                - CAST(n AS DOUBLE) / 2.0)
               * ((CAST(n AS DOUBLE) - CAST(na AS DOUBLE))
                  - CAST(n AS DOUBLE) / 2.0)
               / (CAST(n AS DOUBLE) / 2.0), 6) AS chi2,
       ((CAST(na AS DOUBLE) - CAST(n AS DOUBLE) / 2.0)
        * (CAST(na AS DOUBLE) - CAST(n AS DOUBLE) / 2.0)
        / (CAST(n AS DOUBLE) / 2.0)
        + ((CAST(n AS DOUBLE) - CAST(na AS DOUBLE)) - CAST(n AS DOUBLE) / 2.0)
          * ((CAST(n AS DOUBLE) - CAST(na AS DOUBLE)) - CAST(n AS DOUBLE) / 2.0)
          / (CAST(n AS DOUBLE) / 2.0)) > 3.841459 AS srm_flag
FROM agg
"""


# ---------------------------------------------------------------------------
# directed-graph summary statistics
# ---------------------------------------------------------------------------


def _q_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summary statistics of the directed top-3 trade graph:
    reciprocity (share of edges whose reverse also exists, via one
    self-join), density e/(n(n-1)), and exact out-degree mean/max —
    the one-row graph health card next to the per-node centrality
    queries.  All counts exact integers; three double divisions.
    Scale: the edge frame is the trade-edge extraction; everything
    after is O(|edges|)."""
    from dbt_lab_spark.workload_extras import _trade_edges_topk

    edges = _trade_edges_topk(spark, sf_dir)
    rev = edges.select(F.col("src").alias("dst"), F.col("dst").alias("src"))
    recip = edges.join(rev, ["src", "dst"]).agg(F.count(F.lit(1)).alias("r"))
    nodes = (
        edges.select(F.col("src").alias("u"))
        .unionAll(edges.select(F.col("dst").alias("u")))
        .distinct()
        .agg(F.count(F.lit(1)).alias("nn"))
    )
    outd = edges.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    dstats = outd.agg(
        F.count(F.lit(1)).alias("n_src"),
        F.sum("od").alias("ne"),
        F.max("od").alias("max_od"),
    )
    j = dstats.crossJoin(F.broadcast(recip)).crossJoin(F.broadcast(nodes))
    nnd = F.col("nn").cast(_D)
    return j.select(
        F.col("nn").cast("int").alias("n_nodes"),
        F.col("ne").cast("bigint").alias("n_edges"),
        F.round(F.col("r").cast(_D) / F.col("ne").cast(_D), 6).alias("reciprocity"),
        F.round(F.col("ne").cast(_D) / (nnd * (nnd - 1.0)), 6).alias("density"),
        F.round(F.col("ne").cast(_D) / F.col("n_src").cast(_D), 6).alias(
            "mean_out_degree"
        ),
        F.col("max_od").cast("int").alias("max_out_degree"),
    )


def _sql_graph_stats() -> str:
    from dbt_lab_spark.workload_extras import _SQL_TRADE_EDGES

    return f"""
WITH {_SQL_TRADE_EDGES},
recip AS (
  SELECT COUNT(*) AS r FROM edges e
  JOIN edges x ON x.src = e.dst AND x.dst = e.src
), nodes AS (
  SELECT COUNT(*) AS nn FROM (
    SELECT DISTINCT u FROM (
      SELECT src AS u FROM edges UNION ALL SELECT dst FROM edges))
), dstats AS (
  SELECT COUNT(*) AS n_src, SUM(od) AS ne, MAX(od) AS max_od FROM (
    SELECT src, COUNT(*) AS od FROM edges GROUP BY 1)
)
SELECT CAST(nn AS INT) AS n_nodes, CAST(ne AS BIGINT) AS n_edges,
       round(CAST(r AS DOUBLE) / CAST(ne AS DOUBLE), 6) AS reciprocity,
       round(CAST(ne AS DOUBLE) / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0)), 6)
         AS density,
       round(CAST(ne AS DOUBLE) / CAST(n_src AS DOUBLE), 6) AS mean_out_degree,
       CAST(max_od AS INT) AS max_out_degree
FROM dstats CROSS JOIN recip CROSS JOIN nodes
"""


# ---------------------------------------------------------------------------
# exact higher moments: skewness and excess kurtosis per event type
# ---------------------------------------------------------------------------


def _q_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis of event values per
    type from EXACT raw power sums: S1..S4 in integer cents, with the
    3rd/4th powers accumulated in DECIMAL(38,0)/HUGEINT (a single c^4
    already overflows int64) — the shape diagnostics beyond
    q_stats_agg's mean/std.  Central moments expand algebraically
    from the raw sums in identically-parenthesized doubles; the two
    shape statistics are scale-invariant so cents need no
    normalization.  Scale: ONE hash aggregate."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select(
        "event_type", (money("value") * 100).cast("long").alias("c")
    )
    cc = F.col("c") * F.col("c")
    mom = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(cc).alias("s2"),
        F.sum(cc.cast("decimal(38,0)") * F.col("c")).alias("s3"),
        F.sum(cc.cast("decimal(38,0)") * cc).alias("s4"),
    )
    nd = F.col("n").cast(_D)
    m = F.col("s1").cast(_D) / nd
    m2 = F.col("s2").cast(_D) / nd - m * m
    m3 = F.col("s3").cast(_D) / nd - 3.0 * m * (F.col("s2").cast(_D) / nd) + 2.0 * m * m * m
    m4 = (
        F.col("s4").cast(_D) / nd
        - 4.0 * m * (F.col("s3").cast(_D) / nd)
        + 6.0 * m * m * (F.col("s2").cast(_D) / nd)
        - 3.0 * m * m * m * m
    )
    return mom.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.round(m / 100.0, 6).alias("mean_value"),
        F.round(m3 / F.sqrt(m2 * m2 * m2), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - 3.0, 6).alias("excess_kurtosis"),
    ).orderBy("event_type")


_SQL_HIGHER_MOMENTS = """
WITH mom AS (
  SELECT event_type, COUNT(*) AS n, SUM(c) AS s1, SUM(c * c) AS s2,
         SUM(CAST(c * c AS HUGEINT) * c) AS s3,
         SUM(CAST(c * c AS HUGEINT) * c * c) AS s4
  FROM (
    SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM events
  ) GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_events,
       round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6) AS mean_value,
       round((CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
              - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
              + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
             / sqrt((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                     - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                    * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                       - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                    * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                       - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))), 6)
         AS skewness,
       round((CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
              - 4.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
              + 6.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
              - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
             / ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                   - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))) - 3.0, 6)
         AS excess_kurtosis
FROM mom
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# ECOD-style tail-probability outliers (2-D, exact ECDF)
# ---------------------------------------------------------------------------

_ECOD_TOPK = 10


def _q_ecod_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECOD-style outlier scoring of customers on (acctbal, order
    count): per dimension, the exact two-sided empirical tail
    probability min(P(X <= x), P(X >= x)) from tie-inclusive RANGE-
    frame counts; the score sums the frozen round-6 -ln tails across
    dimensions (the parameter-free ECDF outlier detector, simplified
    to the two-sided variant).  Tail counts are exact integers; the
    per-dim ln is frozen to DECIMAL so the 2-term score sum is exact;
    top-10 with (score desc, custkey) determinism.  Scale: two
    RANGE-frame windows per dimension + a top-k."""
    cat = Catalog(sf_dir)
    cust = scan(spark, cat, "customer", ["c_custkey", "c_acctbal"])
    orders = scan(spark, cat, "orders", ["o_custkey"])
    cnts = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("k"))
    base = cust.join(cnts, cust.c_custkey == cnts.o_custkey, "left").select(
        "c_custkey",
        (money("c_acctbal") * 100).cast("long").alias("x1"),
        F.coalesce("k", F.lit(0)).cast("long").alias("x2"),
    )
    wall = Window.partitionBy()

    def dim_score(col: str) -> F.Column:
        wl = Window.orderBy(col).rangeBetween(Window.unboundedPreceding, 0)
        wr = Window.orderBy(F.col(col).desc()).rangeBetween(
            Window.unboundedPreceding, 0
        )
        le = F.count(F.lit(1)).over(wl)
        ge = F.count(F.lit(1)).over(wr)
        n = F.count(F.lit(1)).over(wall)
        tail = F.least(le, ge).cast(_D) / n.cast(_D)
        return F.round(-F.log(tail), 6).cast("decimal(18,6)")

    scored = base.select(
        "c_custkey",
        "x1",
        "x2",
        (dim_score("x1") + dim_score("x2")).alias("score"),
    )
    top = scored.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("score"), "c_custkey"))
    ).filter(F.col("rn") <= _ECOD_TOPK)
    return top.select(
        "c_custkey",
        (F.col("x1").cast(_D) / 100.0).alias("acctbal"),
        F.col("x2").cast("bigint").alias("n_orders"),
        F.col("score").cast(_D).alias("ecod_score"),
        F.col("rn").cast("int").alias("rank"),
    ).orderBy("rank")


_SQL_ECOD_OUTLIERS = f"""
WITH cnts AS (
  SELECT o_custkey, COUNT(*) AS k FROM orders GROUP BY 1
), base AS (
  SELECT c_custkey,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS x1,
         CAST(COALESCE(k, 0) AS BIGINT) AS x2
  FROM customer LEFT JOIN cnts ON c_custkey = o_custkey
), scored AS (
  SELECT c_custkey, x1, x2,
         CAST(round(-ln(CAST(least(
             COUNT(*) OVER (ORDER BY x1 RANGE UNBOUNDED PRECEDING),
             COUNT(*) OVER (ORDER BY x1 DESC RANGE UNBOUNDED PRECEDING))
           AS DOUBLE) / CAST(COUNT(*) OVER () AS DOUBLE)), 6) AS DECIMAL(18,6))
         + CAST(round(-ln(CAST(least(
             COUNT(*) OVER (ORDER BY x2 RANGE UNBOUNDED PRECEDING),
             COUNT(*) OVER (ORDER BY x2 DESC RANGE UNBOUNDED PRECEDING))
           AS DOUBLE) / CAST(COUNT(*) OVER () AS DOUBLE)), 6) AS DECIMAL(18,6))
         AS score
  FROM base
)
SELECT c_custkey,
       CAST(x1 AS DOUBLE) / 100.0 AS acctbal,
       x2 AS n_orders,
       CAST(score AS DOUBLE) AS ecod_score,
       CAST(rn AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, c_custkey) AS rn FROM scored
) WHERE rn <= {_ECOD_TOPK}
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# Shapley decomposition of R^2 over two features
# ---------------------------------------------------------------------------


def _q_shapley_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley decomposition of regression R^2 between two
    features (acctbal, order count) predicting per-customer total
    spend: with v(S) = R^2 of the OLS on subset S, phi_i =
    ((v({i}) - v(0)) + (v(both) - v({j}))) / 2 — model explainability
    with the EXACT game-theoretic attribution (2 features = closed
    form, no sampling).  All v(S) values derive from one 9-moment
    integer-cent aggregate: single-feature R^2 is the squared
    correlation; the two-feature R^2 solves the 3x3 normal equations
    by Cramer and collapses RSS algebraically (the q_granger
    machinery).  Scale: one rollup + one moment reduce."""
    cat = Catalog(sf_dir)
    cust = scan(spark, cat, "customer", ["c_custkey", "c_acctbal"])
    orders = scan(spark, cat, "orders", ["o_custkey", "o_totalprice"])
    spend = orders.groupBy("o_custkey").agg(
        (F.sum(money("o_totalprice")) * 100).cast("long").alias("y"),
        F.count(F.lit(1)).alias("k"),
    )
    base = cust.join(spend, cust.c_custkey == spend.o_custkey, "left").select(
        (money("c_acctbal") * 100).cast("long").alias("a"),
        F.coalesce("k", F.lit(0)).cast("long").alias("b"),
        F.coalesce("y", F.lit(0)).alias("y"),
    )
    mom = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum("y").alias("sy"),
        F.sum(F.col("a").cast("decimal(38,0)") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
        F.sum(F.col("a").cast("decimal(38,0)") * F.col("b")).alias("sab"),
        F.sum(F.col("a").cast("decimal(38,0)") * F.col("y")).alias("say"),
        F.sum(F.col("b").cast("decimal(38,0)") * F.col("y")).alias("sby"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast(_D)
    sa, sb, sy = (F.col(c).cast(_D) for c in ("sa", "sb", "sy"))
    saa, sbb, sab = (F.col(c).cast(_D) for c in ("saa", "sbb", "sab"))
    say, sby, syy = (F.col(c).cast(_D) for c in ("say", "sby", "syy"))
    cay = nd * say - sa * sy
    cby = nd * sby - sb * sy
    vaa = nd * saa - sa * sa
    vbb = nd * sbb - sb * sb
    vab = nd * sab - sa * sb
    vyy = nd * syy - sy * sy
    r2_a = cay * cay / (vaa * vyy)
    r2_b = cby * cby / (vbb * vyy)
    # two-feature R^2 from the centered 2x2 normal equations
    det = vaa * vbb - vab * vab
    beta_a = (cay * vbb - cby * vab) / det
    beta_b = (cby * vaa - cay * vab) / det
    r2_full = (beta_a * cay + beta_b * cby) / vyy
    shap_a = ((r2_a - 0.0) + (r2_full - r2_b)) / 2.0
    shap_b = ((r2_b - 0.0) + (r2_full - r2_a)) / 2.0
    return mom.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.round(r2_a, 6).alias("r2_acctbal"),
        F.round(r2_b, 6).alias("r2_orders"),
        F.round(r2_full, 6).alias("r2_full"),
        F.round(shap_a, 6).alias("shapley_acctbal"),
        F.round(shap_b, 6).alias("shapley_orders"),
    )


_SQL_SHAPLEY_R2 = """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y,
         COUNT(*) AS k
  FROM orders GROUP BY 1
), base AS (
  SELECT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS a,
         CAST(COALESCE(k, 0) AS BIGINT) AS b,
         COALESCE(y, 0) AS y
  FROM customer LEFT JOIN spend ON c_custkey = o_custkey
), mom AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, COUNT(*) AS n_int,
         CAST(SUM(a) AS DOUBLE) AS sa, CAST(SUM(b) AS DOUBLE) AS sb,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(a AS HUGEINT) * a) AS DOUBLE) AS saa,
         CAST(SUM(b * b) AS DOUBLE) AS sbb,
         CAST(SUM(CAST(a AS HUGEINT) * b) AS DOUBLE) AS sab,
         CAST(SUM(CAST(a AS HUGEINT) * y) AS DOUBLE) AS say,
         CAST(SUM(CAST(b AS HUGEINT) * y) AS DOUBLE) AS sby,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
  FROM base
), c AS (
  SELECT n_int,
         n * say - sa * sy AS cay, n * sby - sb * sy AS cby,
         n * saa - sa * sa AS vaa, n * sbb - sb * sb AS vbb,
         n * sab - sa * sb AS vab, n * syy - sy * sy AS vyy
  FROM mom
), fit AS (
  SELECT *,
         cay * cay / (vaa * vyy) AS r2_a,
         cby * cby / (vbb * vyy) AS r2_b,
         ((cay * vbb - cby * vab) / (vaa * vbb - vab * vab) * cay
          + (cby * vaa - cay * vab) / (vaa * vbb - vab * vab) * cby) / vyy AS r2_full
  FROM c
)
SELECT CAST(n_int AS BIGINT) AS n_customers,
       round(r2_a, 6) AS r2_acctbal,
       round(r2_b, 6) AS r2_orders,
       round(r2_full, 6) AS r2_full,
       round(((r2_a - 0.0) + (r2_full - r2_b)) / 2.0, 6) AS shapley_acctbal,
       round(((r2_b - 0.0) + (r2_full - r2_a)) / 2.0, 6) AS shapley_orders
FROM fit
"""


# ---------------------------------------------------------------------------
# delta-method CI for a ratio-of-means metric
# ---------------------------------------------------------------------------


def _q_ratio_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method confidence interval for the ratio metric
    'purchase value per view' with the USER as the randomization unit:
    R = sum(x_u)/sum(y_u), var(R) ~= (s_xx - 2R s_xy + R^2 s_yy) /
    (n ybar^2) — the correct CI for ratio metrics (a naive per-event
    mean ignores user-level correlation).  Per-user x (purchase
    cents) and y (view count) are exact integers; the five moments
    come from one aggregate; R, the SE, and the frozen-z CI are
    identically-parenthesized doubles.  Scale: one per-user aggregate
    + a 1-row reduce."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    per_user = ev.groupBy("user_id").agg(
        (
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "purchase", money("value"))),
                F.lit(0),
            )
            * 100
        )
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("y"),
    )
    mom = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast(_D)
    sx, sy = F.col("sx").cast(_D), F.col("sy").cast(_D)
    sxx, sxy, syy = (F.col(c).cast(_D) for c in ("sxx", "sxy", "syy"))
    r = sx / sy
    vxx = (nd * sxx - sx * sx) / (nd * (nd - 1.0))
    vxy = (nd * sxy - sx * sy) / (nd * (nd - 1.0))
    vyy = (nd * syy - sy * sy) / (nd * (nd - 1.0))
    ybar = sy / nd
    se = F.sqrt((vxx - 2.0 * r * vxy + r * r * vyy) / nd) / ybar
    z = 1.959964
    return mom.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round(r / 100.0, 6).alias("ratio"),
        F.round(se / 100.0, 6).alias("se"),
        F.round((r - z * se) / 100.0, 6).alias("ci_lo"),
        F.round((r + z * se) / 100.0, 6).alias("ci_hi"),
    )


_SQL_RATIO_DELTA = """
WITH per_user AS (
  SELECT user_id,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                          THEN CAST(value AS DECIMAL(18,2)) END), 0) * 100
              AS BIGINT) AS x,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS y
  FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1
), mom AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, COUNT(*) AS n_int,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
         CAST(SUM(x * y) AS DOUBLE) AS sxy,
         CAST(SUM(y * y) AS DOUBLE) AS syy
  FROM per_user
), fit AS (
  SELECT n_int, n, sx / sy AS r, sy / n AS ybar,
         (n * sxx - sx * sx) / (n * (n - 1.0)) AS vxx,
         (n * sxy - sx * sy) / (n * (n - 1.0)) AS vxy,
         (n * syy - sy * sy) / (n * (n - 1.0)) AS vyy
  FROM mom
), res AS (
  SELECT n_int, r,
         sqrt((vxx - 2.0 * r * vxy + r * r * vyy) / n) / ybar AS se
  FROM fit
)
SELECT CAST(n_int AS BIGINT) AS n_users,
       round(r / 100.0, 6) AS ratio,
       round(se / 100.0, 6) AS se,
       round((r - 1.959964 * se) / 100.0, 6) AS ci_lo,
       round((r + 1.959964 * se) / 100.0, 6) AS ci_hi
FROM res
"""


# ---------------------------------------------------------------------------
# partial correlation controlling for a confounder
# ---------------------------------------------------------------------------


def _q_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of customer acctbal and total spend
    CONTROLLING for order count: r_xy.z = (r_xy - r_xz r_zy) /
    sqrt((1 - r_xz^2)(1 - r_zy^2)) — does balance relate to spend
    beyond the mechanical does-more-orders channel?  The three raw
    correlations come from one 9-moment integer-cent aggregate (the
    q_shapley_r2 frame); the partial is one double formula.  Scale:
    one rollup + a 1-row reduce."""
    cat = Catalog(sf_dir)
    cust = scan(spark, cat, "customer", ["c_custkey", "c_acctbal"])
    orders = scan(spark, cat, "orders", ["o_custkey", "o_totalprice"])
    spend = orders.groupBy("o_custkey").agg(
        (F.sum(money("o_totalprice")) * 100).cast("long").alias("y"),
        F.count(F.lit(1)).alias("k"),
    )
    base = cust.join(spend, cust.c_custkey == spend.o_custkey, "left").select(
        (money("c_acctbal") * 100).cast("long").alias("x"),
        F.coalesce("y", F.lit(0)).alias("y"),
        F.coalesce("k", F.lit(0)).cast("long").alias("z"),
    )
    mom = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("z").alias("sz"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("z")).alias("sxz"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("z")).alias("syz"),
    )
    nd = F.col("n").cast(_D)

    def corr(sab, sa, sb, saa, sbb):
        num = nd * F.col(sab).cast(_D) - F.col(sa).cast(_D) * F.col(sb).cast(_D)
        da = nd * F.col(saa).cast(_D) - F.col(sa).cast(_D) * F.col(sa).cast(_D)
        db = nd * F.col(sbb).cast(_D) - F.col(sb).cast(_D) * F.col(sb).cast(_D)
        return num / F.sqrt(da * db)

    rxy = corr("sxy", "sx", "sy", "sxx", "syy")
    rxz = corr("sxz", "sx", "sz", "sxx", "szz")
    rzy = corr("syz", "sy", "sz", "syy", "szz")
    partial = (rxy - rxz * rzy) / F.sqrt((1.0 - rxz * rxz) * (1.0 - rzy * rzy))
    return mom.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.round(rxy, 6).alias("r_bal_spend"),
        F.round(rxz, 6).alias("r_bal_orders"),
        F.round(rzy, 6).alias("r_spend_orders"),
        F.round(partial, 6).alias("partial_r"),
    )


_SQL_PARTIAL_CORR = """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y,
         COUNT(*) AS k
  FROM orders GROUP BY 1
), base AS (
  SELECT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
         COALESCE(y, 0) AS y, CAST(COALESCE(k, 0) AS BIGINT) AS z
  FROM customer LEFT JOIN spend ON c_custkey = o_custkey
), mom AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, COUNT(*) AS n_int,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(z) AS DOUBLE) AS sz,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
         CAST(SUM(z * z) AS DOUBLE) AS szz,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x AS HUGEINT) * z) AS DOUBLE) AS sxz,
         CAST(SUM(CAST(y AS HUGEINT) * z) AS DOUBLE) AS syz
  FROM base
), cors AS (
  SELECT n_int,
         (n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS rxy,
         (n * sxz - sx * sz) / sqrt((n * sxx - sx * sx) * (n * szz - sz * sz)) AS rxz,
         (n * syz - sy * sz) / sqrt((n * syy - sy * sy) * (n * szz - sz * sz)) AS rzy
  FROM mom
)
SELECT CAST(n_int AS BIGINT) AS n_customers,
       round(rxy, 6) AS r_bal_spend,
       round(rxz, 6) AS r_bal_orders,
       round(rzy, 6) AS r_spend_orders,
       round((rxy - rxz * rzy) / sqrt((1.0 - rxz * rxz) * (1.0 - rzy * rzy)), 6)
         AS partial_r
FROM cors
"""


# ---------------------------------------------------------------------------
# Burrows' Delta stylometric distance between sources
# ---------------------------------------------------------------------------

_BD_TOPK = 30


def _q_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between document sources: for the top-30 corpus
    tokens, z-score each source's relative frequency across sources
    and report the mean |z1 - z2| per source pair — the classic
    stylometric authorship distance, distributed: one token explode,
    two tiny aggregates, one pair join on the 30-token frame.
    Relative frequencies are frozen to round-9 DECIMALS (they live at
    1e-3 scale), z-scores re-freeze to round-6, so the per-pair mean
    is an exact decimal sum over 30 terms with one final division.
    Scale: the explode+count is the q_word_count shape; everything
    after runs on |sources| x 30 rows."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["source", "text"])
    toks = docs.select(
        "source", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "rk", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("token")))
        )
        .filter(F.col("rk") <= _BD_TOPK)
        .select("token")
    )
    per_src_tok = (
        toks.join(F.broadcast(top), "token")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    src_tot = toks.groupBy("source").agg(F.count(F.lit(1)).alias("tot"))
    srcs = src_tot.select("source")
    dense = (
        srcs.crossJoin(top)
        .join(per_src_tok, ["source", "token"], "left")
        .join(src_tot, "source")
        .select(
            "source",
            "token",
            F.round(
                F.coalesce("c", F.lit(0)).cast(_D) / F.col("tot").cast(_D), 9
            )
            .cast("decimal(18,9)")
            .alias("f"),
        )
    )
    wt = Window.partitionBy("token")
    stats = dense.select(
        "source",
        "token",
        "f",
        F.count(F.lit(1)).over(wt).alias("ns"),
        F.sum("f").over(wt).alias("sf"),
        F.sum(F.col("f") * F.col("f")).over(wt).alias("sff"),
    )
    nsd = F.col("ns").cast(_D)
    mean = F.col("sf").cast(_D) / nsd
    std = F.sqrt(
        (nsd * F.col("sff").cast(_D) - F.col("sf").cast(_D) * F.col("sf").cast(_D))
        / (nsd * (nsd - 1.0))
    )
    z = dense.join(
        stats.select("source", "token", "ns", "sf", "sff"), ["source", "token"]
    ).select(
        "source",
        "token",
        F.round((F.col("f").cast(_D) - mean) / std, 6)
        .cast("decimal(18,6)")
        .alias("z"),
    )
    z2 = z.select(
        F.col("source").alias("source2"),
        "token",
        F.col("z").alias("zz"),
    )
    pairs = (
        z.join(z2, "token")
        .filter(F.col("source") < F.col("source2"))
        .groupBy("source", "source2")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.abs(F.col("z") - F.col("zz"))).alias("sd"),
        )
    )
    return pairs.select(
        "source",
        "source2",
        F.col("k").cast("bigint").alias("n_tokens"),
        F.round(F.col("sd").cast(_D) / F.col("k").cast(_D), 6).alias("delta"),
    ).orderBy("source", "source2")


_SQL_BURROWS_DELTA = rf"""
WITH toks AS MATERIALIZED (
  SELECT source, token
  FROM documents, UNNEST(string_split_regex(lower(text), '\s+')) AS u(token)
  WHERE token <> ''
), top AS MATERIALIZED (
  SELECT token FROM (
    SELECT token, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token ASC) AS rk
    FROM toks GROUP BY token
  ) WHERE rk <= {_BD_TOPK}
), per_src_tok AS (
  SELECT source, token, COUNT(*) AS c FROM toks JOIN top USING (token)
  GROUP BY 1, 2
), src_tot AS MATERIALIZED (
  SELECT source, COUNT(*) AS tot FROM toks GROUP BY 1
), dense AS MATERIALIZED (
  SELECT s.source, t.token,
         CAST(round(CAST(COALESCE(p.c, 0) AS DOUBLE) / CAST(st.tot AS DOUBLE), 9)
              AS DECIMAL(18,9)) AS f
  FROM (SELECT source FROM src_tot) s
  CROSS JOIN top t
  LEFT JOIN per_src_tok p ON p.source = s.source AND p.token = t.token
  JOIN src_tot st ON st.source = s.source
), stats AS (
  SELECT token, COUNT(*) AS ns, SUM(f) AS sf, SUM(f * f) AS sff
  FROM dense GROUP BY 1
), z AS MATERIALIZED (
  SELECT d.source, d.token,
         CAST(round((CAST(d.f AS DOUBLE)
                     - CAST(s.sf AS DOUBLE) / CAST(s.ns AS DOUBLE))
                    / sqrt((CAST(s.ns AS DOUBLE) * CAST(s.sff AS DOUBLE)
                            - CAST(s.sf AS DOUBLE) * CAST(s.sf AS DOUBLE))
                           / (CAST(s.ns AS DOUBLE)
                              * (CAST(s.ns AS DOUBLE) - 1.0))), 6)
              AS DECIMAL(18,6)) AS z
  FROM dense d JOIN stats s USING (token)
)
SELECT a.source, b.source AS source2,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       round(CAST(SUM(abs(a.z - b.z)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS delta
FROM z a JOIN z b ON a.token = b.token AND a.source < b.source
GROUP BY 1, 2
ORDER BY 1, 2
"""


def _cust_spend_fit(spark: SparkSession, sf_dir: str):
    """Shared frame: per-customer (x = acctbal cents, y = spend cents)
    plus the frozen round-6 OLS coefficients (a, b) and the moment row
    broadcast alongside."""
    cat = Catalog(sf_dir)
    cust = scan(spark, cat, "customer", ["c_custkey", "c_acctbal"])
    orders = scan(spark, cat, "orders", ["o_custkey", "o_totalprice"])
    spend = orders.groupBy("o_custkey").agg(
        (F.sum(money("o_totalprice")) * 100).cast("long").alias("y")
    )
    base = cust.join(spend, cust.c_custkey == spend.o_custkey, "left").select(
        "c_custkey",
        (money("c_acctbal") * 100).cast("long").alias("x"),
        F.coalesce("y", F.lit(0)).alias("y"),
    )
    mom = base.agg(
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
        "n",
        "sx",
        "sxx",
        F.round(a, 6).cast("decimal(18,6)").alias("a"),
        F.round(b, 6).cast("decimal(18,6)").alias("b"),
    )
    resid = base.crossJoin(F.broadcast(fit)).select(
        "c_custkey",
        "x",
        "y",
        "n",
        "sx",
        "sxx",
        # frozen-coefficient residual, rounded once to whole cents so
        # its 2nd/4th powers fit exact integer accumulators
        F.round(F.col("y") - (F.col("a") + F.col("b") * F.col("x")), 0)
        .cast("long")
        .alias("e"),
    )
    return resid


_SQL_CUST_SPEND_FIT = """
spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
  FROM orders GROUP BY 1
), base AS MATERIALIZED (
  SELECT c_custkey,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
         COALESCE(y, 0) AS y
  FROM customer LEFT JOIN spend ON c_custkey = o_custkey
), fitmom AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, COUNT(*) AS n_int,
         CAST(SUM(x) AS DOUBLE) AS sxd, SUM(x) AS sx,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxxd,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
  FROM base
), fit AS MATERIALIZED (
  SELECT n_int AS n, sx, sxx,
         CAST(round((sy - ((n * sxy - sxd * sy) / (n * sxxd - sxd * sxd)) * sxd)
                    / n, 6) AS DECIMAL(18,6)) AS a,
         CAST(round((n * sxy - sxd * sy) / (n * sxxd - sxd * sxd), 6)
              AS DECIMAL(18,6)) AS b
  FROM fitmom
), resid AS MATERIALIZED (
  SELECT c_custkey, x, y, f.n, f.sx, f.sxx,
         CAST(round(y - (f.a + f.b * x), 0) AS BIGINT) AS e
  FROM base CROSS JOIN fit f
)"""


# ---------------------------------------------------------------------------
# Breusch-Pagan heteroscedasticity test
# ---------------------------------------------------------------------------


def _q_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan (Koenker studentized) heteroscedasticity test on
    the spend ~ acctbal fit: regress the squared frozen residuals on x
    and report LM = n * R^2_aux against the chi2(1) 5% critical value
    — does error variance grow with the predictor?  The auxiliary
    R^2 needs residual powers up to e^4: with residuals rounded to
    integer cents they accumulate exactly in DECIMAL(38,0)/HUGEINT.
    Scale: one rollup + one frozen-fit broadcast + ONE 5-moment
    reduce."""
    resid = _cust_spend_fit(spark, sf_dir)
    e2 = F.col("e").cast("decimal(38,0)") * F.col("e")
    aux = resid.agg(
        F.max("n").alias("n"),
        F.max("sx").alias("sx"),
        F.max("sxx").alias("sxx"),
        F.sum(e2).alias("se2"),
        F.sum(e2 * F.col("x")).alias("se2x"),
        F.sum(e2 * e2).alias("se4"),
    )
    nd = F.col("n").cast(_D)
    cov = nd * F.col("se2x").cast(_D) - F.col("sx").cast(_D) * F.col("se2").cast(_D)
    vx = nd * F.col("sxx").cast(_D) - F.col("sx").cast(_D) * F.col("sx").cast(_D)
    ve2 = nd * F.col("se4").cast(_D) - F.col("se2").cast(_D) * F.col("se2").cast(_D)
    r2_aux = cov * cov / (vx * ve2)
    lm = nd * r2_aux
    return aux.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.round(cov / vx, 6).alias("aux_slope"),
        F.round(r2_aux, 6).alias("r2_aux"),
        F.round(lm, 6).alias("lm_stat"),
        (lm > 3.841459).alias("heteroscedastic"),
    )


_SQL_BREUSCH_PAGAN = f"""
WITH {_SQL_CUST_SPEND_FIT}, aux AS (
  SELECT MAX(n) AS n, MAX(sx) AS sx, MAX(sxx) AS sxx,
         SUM(CAST(e AS HUGEINT) * e) AS se2,
         SUM(CAST(e AS HUGEINT) * e * x) AS se2x,
         SUM(CAST(CAST(e AS HUGEINT) * e AS HUGEINT)
             * (CAST(e AS HUGEINT) * e)) AS se4
  FROM resid
)
SELECT CAST(n AS BIGINT) AS n_customers,
       round((CAST(n AS DOUBLE) * CAST(se2x AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(se2 AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS aux_slope,
       round(((CAST(n AS DOUBLE) * CAST(se2x AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(se2 AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(se2x AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(se2 AS DOUBLE)))
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(se4 AS DOUBLE)
                   - CAST(se2 AS DOUBLE) * CAST(se2 AS DOUBLE))), 6) AS r2_aux,
       round(CAST(n AS DOUBLE)
             * ((CAST(n AS DOUBLE) * CAST(se2x AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(se2 AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(se2x AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(se2 AS DOUBLE)))
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(se4 AS DOUBLE)
                   - CAST(se2 AS DOUBLE) * CAST(se2 AS DOUBLE))), 6) AS lm_stat,
       CAST(n AS DOUBLE)
       * ((CAST(n AS DOUBLE) * CAST(se2x AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(se2 AS DOUBLE))
          * (CAST(n AS DOUBLE) * CAST(se2x AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(se2 AS DOUBLE)))
       / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * (CAST(n AS DOUBLE) * CAST(se4 AS DOUBLE)
             - CAST(se2 AS DOUBLE) * CAST(se2 AS DOUBLE))) > 3.841459
         AS heteroscedastic
FROM aux
"""


# ---------------------------------------------------------------------------
# Cook's distance: top-10 influential customers
# ---------------------------------------------------------------------------

_COOKS_TOPK = 10


def _q_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most influential observations of the spend ~ acctbal fit
    by Cook's distance D_i = e_i^2 h_ii / (2 s^2 (1 - h_ii)^2) with
    leverage h_ii = 1/n + (x_i - xbar)^2 / Sxx — which single
    customers most move the fitted line?  Residuals are the shared
    frozen-fit integer cents; s^2 = sum(e^2)/(n-2) is an exact-moment
    broadcast; each D_i is one double formula; top-10 ranks on
    (D desc, custkey).  Scale: frozen-fit frame + one broadcast + one
    top-k."""
    resid = _cust_spend_fit(spark, sf_dir)
    s2row = resid.agg(
        F.max("n").alias("n2"),
        F.sum(F.col("e").cast("decimal(38,0)") * F.col("e")).alias("se2"),
    )
    scored = resid.crossJoin(F.broadcast(s2row))
    nd = F.col("n").cast(_D)
    xbar = F.col("sx").cast(_D) / nd
    sxx_c = F.col("sxx").cast(_D) - F.col("sx").cast(_D) * xbar
    h = 1.0 / nd + (F.col("x").cast(_D) - xbar) * (F.col("x").cast(_D) - xbar) / sxx_c
    s2 = F.col("se2").cast(_D) / (nd - 2.0)
    d = (
        F.col("e").cast(_D)
        * F.col("e").cast(_D)
        * h
        / (2.0 * s2 * (1.0 - h) * (1.0 - h))
    )
    top = scored.select(
        "c_custkey",
        (F.col("x").cast(_D) / 100.0).alias("acctbal"),
        (F.col("y").cast(_D) / 100.0).alias("spend"),
        F.round(h, 6).alias("leverage"),
        F.round(d, 6).alias("cooks_d"),
    ).withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("cooks_d"), "c_custkey"))
    ).filter(F.col("rank") <= _COOKS_TOPK)
    return top.select(
        "c_custkey", "acctbal", "spend", "leverage", "cooks_d",
        F.col("rank").cast("int").alias("rank"),
    ).orderBy("rank")


_SQL_COOKS_DISTANCE = f"""
WITH {_SQL_CUST_SPEND_FIT}, s2row AS (
  SELECT MAX(n) AS n2, SUM(CAST(e AS HUGEINT) * e) AS se2 FROM resid
), scored AS (
  SELECT c_custkey,
         CAST(x AS DOUBLE) / 100.0 AS acctbal,
         CAST(y AS DOUBLE) / 100.0 AS spend,
         round(1.0 / CAST(n AS DOUBLE)
               + (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                 / (CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE)
                      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS leverage,
         round(CAST(e AS DOUBLE) * CAST(e AS DOUBLE)
               * (1.0 / CAST(n AS DOUBLE)
                  + (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                    / (CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE)
                         * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))
               / (2.0 * (CAST(se2 AS DOUBLE) / (CAST(n AS DOUBLE) - 2.0))
                  * (1.0 - (1.0 / CAST(n AS DOUBLE)
                     + (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                       / (CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE)
                            * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))))
                  * (1.0 - (1.0 / CAST(n AS DOUBLE)
                     + (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                       / (CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE)
                            * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))))), 6)
           AS cooks_d
  FROM resid CROSS JOIN s2row
)
SELECT c_custkey, acctbal, spend, leverage, cooks_d, CAST(rn AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY cooks_d DESC, c_custkey) AS rn
  FROM scored
) WHERE rn <= {_COOKS_TOPK}
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# Jarque-Bera normality test per event type
# ---------------------------------------------------------------------------


def _q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test of event values per type: JB =
    n/6 * (g1^2 + g2^2/4) from the same exact raw power sums as
    q_higher_moments (S3/S4 in DECIMAL(38,0)/HUGEINT), flagged
    against the chi2(2) 5% critical value 5.991465 — the
    is-this-Gaussian gate before any z-test assumption.  One
    aggregate, double formulas.  Scale: one hash aggregate."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select(
        "event_type", (money("value") * 100).cast("long").alias("c")
    )
    cc = F.col("c") * F.col("c")
    mom = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(cc).alias("s2"),
        F.sum(cc.cast("decimal(38,0)") * F.col("c")).alias("s3"),
        F.sum(cc.cast("decimal(38,0)") * cc).alias("s4"),
    )
    nd = F.col("n").cast(_D)
    m = F.col("s1").cast(_D) / nd
    m2 = F.col("s2").cast(_D) / nd - m * m
    m3 = (
        F.col("s3").cast(_D) / nd
        - 3.0 * m * (F.col("s2").cast(_D) / nd)
        + 2.0 * m * m * m
    )
    m4 = (
        F.col("s4").cast(_D) / nd
        - 4.0 * m * (F.col("s3").cast(_D) / nd)
        + 6.0 * m * m * (F.col("s2").cast(_D) / nd)
        - 3.0 * m * m * m * m
    )
    g1 = m3 / F.sqrt(m2 * m2 * m2)
    g2 = m4 / (m2 * m2) - 3.0
    jb = nd / 6.0 * (g1 * g1 + g2 * g2 / 4.0)
    return mom.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.round(g1, 6).alias("skewness"),
        F.round(g2, 6).alias("excess_kurtosis"),
        F.round(jb, 4).alias("jb_stat"),
        (jb > 5.991465).alias("non_normal"),
    ).orderBy("event_type")


_SQL_JARQUE_BERA = """
WITH mom AS (
  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n, COUNT(*) AS n_int,
         CAST(SUM(c) AS DOUBLE) AS s1, CAST(SUM(c * c) AS DOUBLE) AS s2,
         CAST(SUM(CAST(c * c AS HUGEINT) * c) AS DOUBLE) AS s3,
         CAST(SUM(CAST(c * c AS HUGEINT) * c * c) AS DOUBLE) AS s4
  FROM (
    SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM events
  ) GROUP BY 1
), shaped AS (
  SELECT event_type, n_int, n,
         (s3 / n - 3.0 * (s1 / n) * (s2 / n) + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
         / sqrt((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n))
                * (s2 / n - (s1 / n) * (s1 / n))) AS g1,
         (s4 / n - 4.0 * (s1 / n) * (s3 / n)
          + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
          - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
         / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n))) - 3.0
           AS g2
  FROM mom
)
SELECT event_type, CAST(n_int AS BIGINT) AS n_events,
       round(g1, 6) AS skewness,
       round(g2, 6) AS excess_kurtosis,
       round(n / 6.0 * (g1 * g1 + g2 * g2 / 4.0), 4) AS jb_stat,
       n / 6.0 * (g1 * g1 + g2 * g2 / 4.0) > 5.991465 AS non_normal
FROM shaped
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Theil inequality index on the compressed value domain
# ---------------------------------------------------------------------------


def _q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer spend per nation's market:
    T = (1/n) sum (x_i/mu) ln(x_i/mu) over positive spends — the
    decomposable inequality measure beside q_gini's rank-based one.
    Each ln(x/mu) is frozen per COMPRESSED distinct spend value
    (round-6 DECIMAL x the exact integer count and the exact integer
    value), so the accumulation is an exact decimal and T is one
    final division.  Scale: one per-customer rollup, one compressed
    aggregate."""
    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_custkey", "o_totalprice"])
    spend = orders.groupBy("o_custkey").agg(
        (F.sum(money("o_totalprice")) * 100).cast("long").alias("x")
    )
    per_v = spend.groupBy("x").agg(F.count(F.lit(1)).alias("cnt"))
    tot = per_v.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("cnt")).alias("sx"),
    )
    j = per_v.crossJoin(F.broadcast(tot))
    mu = F.col("sx").cast(_D) / F.col("n").cast(_D)
    term = (
        F.round(F.log(F.col("x").cast(_D) / mu), 6).cast("decimal(18,6)")
        * F.col("x")
        * F.col("cnt")
    )
    agg = j.groupBy("n", "sx").agg(F.sum(term).alias("st"))
    theil = F.col("st").cast(_D) / F.col("sx").cast(_D)
    return agg.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.round(F.col("sx").cast(_D) / F.col("n").cast(_D) / 100.0, 2).alias(
            "mean_spend"
        ),
        F.round(theil, 6).alias("theil_t"),
    )


_SQL_THEIL_INDEX = """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
  FROM orders GROUP BY 1
), per_v AS MATERIALIZED (
  SELECT x, COUNT(*) AS cnt FROM spend GROUP BY 1
), tot AS (
  SELECT SUM(cnt) AS n, SUM(CAST(x AS HUGEINT) * cnt) AS sx FROM per_v
), agg AS (
  SELECT n, sx,
         SUM(CAST(round(ln(CAST(x AS DOUBLE)
                           / (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))), 6)
                  AS DECIMAL(18,6)) * x * cnt) AS st
  FROM per_v CROSS JOIN tot
  GROUP BY 1, 2
)
SELECT CAST(n AS BIGINT) AS n_customers,
       round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 2) AS mean_spend,
       round(CAST(st AS DOUBLE) / CAST(sx AS DOUBLE), 6) AS theil_t
FROM agg
"""


# ---------------------------------------------------------------------------
# Kruskal-Wallis rank test across all event types
# ---------------------------------------------------------------------------


def _q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test of value location across ALL five event
    types — the k-sample generalization of q_mann_whitney, and like it
    ENTIRELY integer until the final statistic: per-distinct-value
    counts, one pooled cumulative window, doubled average ranks
    2R = sum a_v (2 before_v + t_v + 1), group rank sums as exact
    integers, and the tie correction from exact t^3 - t sums.  Scale:
    the window runs over the compressed pooled value domain, never
    raw events; one group reduce."""
    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select(
        "event_type", money("value").alias("v")
    )
    per_tv = ev.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("a"))
    per_v = per_tv.groupBy("v").agg(F.sum("a").alias("tv"))
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = per_v.select(
        "v",
        "tv",
        (F.sum("tv").over(wc) - F.col("tv")).alias("before"),
    )
    joined = per_tv.join(cum, "v").select(
        "event_type",
        "a",
        "tv",
        # doubled average pooled rank of every copy at value v
        (F.col("a").cast("decimal(38,0)") * (2 * F.col("before") + F.col("tv") + 1))
        .alias("r2"),
    )
    per_t = joined.groupBy("event_type").agg(
        F.sum("a").alias("nt"), F.sum("r2").alias("r2t")
    )
    ties = per_v.agg(
        F.sum("tv").alias("n"),
        F.sum(
            F.col("tv").cast("decimal(38,0)") * F.col("tv") * F.col("tv")
            - F.col("tv")
        ).alias("tie3"),
    )
    j = per_t.crossJoin(F.broadcast(ties))
    nd = F.col("n").cast(_D)
    # H = 12/(n(n+1)) * sum((R_t)^2/n_t) - 3(n+1); R_t = r2t/2
    term = (
        F.col("r2t").cast(_D)
        * F.col("r2t").cast(_D)
        / 4.0
        / F.col("nt").cast(_D)
    )
    agg = j.groupBy("n", "tie3").agg(
        F.count(F.lit(1)).alias("k"), F.sum(term).alias("sterm")
    )
    h = 12.0 / (nd * (nd + 1.0)) * F.col("sterm") - 3.0 * (nd + 1.0)
    c = 1.0 - F.col("tie3").cast(_D) / (nd * nd * nd - nd)
    return agg.select(
        F.col("n").cast("bigint").alias("n_events"),
        (F.col("k") - 1).cast("int").alias("df"),
        F.round(h, 6).alias("h_stat"),
        F.round(h / c, 6).alias("h_tie_corrected"),
        (h / c > 9.487729).alias("significant"),  # chi2(4) 5%
    )


_SQL_KRUSKAL_WALLIS = """
WITH per_tv AS MATERIALIZED (
  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v, COUNT(*) AS a
  FROM events GROUP BY 1, 2
), per_v AS MATERIALIZED (
  SELECT v, SUM(a) AS tv FROM per_tv GROUP BY 1
), cum AS (
  SELECT v, tv,
         SUM(tv) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - tv AS before
  FROM per_v
), per_t AS (
  SELECT event_type, SUM(a) AS nt,
         SUM(CAST(a AS HUGEINT) * (2 * before + tv + 1)) AS r2t
  FROM per_tv JOIN cum USING (v)
  GROUP BY 1
), ties AS (
  SELECT SUM(tv) AS n,
         SUM(CAST(tv AS HUGEINT) * tv * tv - tv) AS tie3
  FROM per_v
), agg AS (
  SELECT n, tie3, COUNT(*) AS k,
         SUM(CAST(r2t AS DOUBLE) * CAST(r2t AS DOUBLE) / 4.0
             / CAST(nt AS DOUBLE)) AS sterm
  FROM per_t CROSS JOIN ties
  GROUP BY 1, 2
)
SELECT CAST(n AS BIGINT) AS n_events,
       CAST(k - 1 AS INT) AS df,
       round(12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * sterm
             - 3.0 * (CAST(n AS DOUBLE) + 1.0), 6) AS h_stat,
       round((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * sterm
              - 3.0 * (CAST(n AS DOUBLE) + 1.0))
             / (1.0 - CAST(tie3 AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                   - CAST(n AS DOUBLE))), 6) AS h_tie_corrected,
       (12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * sterm
        - 3.0 * (CAST(n AS DOUBLE) + 1.0))
       / (1.0 - CAST(tie3 AS DOUBLE)
          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
             - CAST(n AS DOUBLE))) > 9.487729 AS significant
FROM agg
"""


# ---------------------------------------------------------------------------
# McNemar paired-proportions test
# ---------------------------------------------------------------------------


def _q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar test of paired per-customer indicators (ever placed an
    URGENT order vs ever placed a 2-HIGH order): only the DISCORDANT
    cells b (urgent-only) and c (high-only) matter; the statistic
    (b-c)^2/(b+c) and its continuity-corrected form are pure integer
    arithmetic until two divisions — the paired version of a
    proportions z-test.  Scale: one per-customer aggregate + one
    4-cell reduce."""
    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_custkey", "o_orderpriority"])
    per_c = orders.groupBy("o_custkey").agg(
        F.max((F.col("o_orderpriority") == "1-URGENT").cast("int")).alias("u"),
        F.max((F.col("o_orderpriority") == "2-HIGH").cast("int")).alias("h"),
    )
    cells = per_c.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when((F.col("u") == 1) & (F.col("h") == 0), 1).otherwise(0)).alias("b"),
        F.sum(F.when((F.col("u") == 0) & (F.col("h") == 1), 1).otherwise(0)).alias("c"),
        F.sum(F.when((F.col("u") == 1) & (F.col("h") == 1), 1).otherwise(0)).alias("both"),
    )
    bd = F.col("b").cast(_D)
    cd = F.col("c").cast(_D)
    stat = (bd - cd) * (bd - cd) / (bd + cd)
    statc = (F.abs(bd - cd) - 1.0) * (F.abs(bd - cd) - 1.0) / (bd + cd)
    return cells.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("b").cast("bigint").alias("urgent_only"),
        F.col("c").cast("bigint").alias("high_only"),
        F.col("both").cast("bigint").alias("both_kinds"),
        F.round(stat, 6).alias("mcnemar_stat"),
        F.round(statc, 6).alias("mcnemar_corrected"),
        (statc > 3.841459).alias("significant"),
    )


_SQL_MCNEMAR = """
WITH per_c AS (
  SELECT o_custkey,
         MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS u,
         MAX(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS h
  FROM orders GROUP BY 1
), cells AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN u = 1 AND h = 0 THEN 1 ELSE 0 END) AS b,
         SUM(CASE WHEN u = 0 AND h = 1 THEN 1 ELSE 0 END) AS c,
         SUM(CASE WHEN u = 1 AND h = 1 THEN 1 ELSE 0 END) AS bb
  FROM per_c
)
SELECT CAST(n AS BIGINT) AS n_customers,
       CAST(b AS BIGINT) AS urgent_only, CAST(c AS BIGINT) AS high_only,
       CAST(bb AS BIGINT) AS both_kinds,
       round((CAST(b AS DOUBLE) - CAST(c AS DOUBLE))
             * (CAST(b AS DOUBLE) - CAST(c AS DOUBLE))
             / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE)), 6) AS mcnemar_stat,
       round((abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
             * (abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
             / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE)), 6) AS mcnemar_corrected,
       (abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
       * (abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
       / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE)) > 3.841459 AS significant
FROM cells
"""


# ---------------------------------------------------------------------------
# cumulative gains chart by score decile
# ---------------------------------------------------------------------------


def _q_gains_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains chart treating account balance as the model
    score and total spend as the response: decile customers by score
    (desc, custkey tie-break), report each decile's share of total
    spend, the cumulative share, and the cumulative lift vs random
    targeting — the campaign-targeting readout beside q_auc_eval's
    classifier view.  Spend sums stay exact DECIMAL; shares and lifts
    are single divisions; the cumulative sums run over the 10-row
    decile frame.  Scale: one rollup + one ntile window + a 10-row
    window pass."""
    cat = Catalog(sf_dir)
    cust = scan(spark, cat, "customer", ["c_custkey", "c_acctbal"])
    orders = scan(spark, cat, "orders", ["o_custkey", "o_totalprice"])
    spend = orders.groupBy("o_custkey").agg(
        F.sum(money("o_totalprice")).alias("y")
    )
    base = cust.join(spend, cust.c_custkey == spend.o_custkey, "left").select(
        F.ntile(10)
        .over(Window.orderBy(F.desc(money("c_acctbal")), "c_custkey"))
        .alias("decile"),
        F.coalesce("y", F.lit(0).cast("decimal(18,2)")).alias("y"),
    )
    per_d = base.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("s")
    )
    wall = Window.partitionBy()
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_d.select(
        "decile",
        "n",
        "s",
        F.sum("s").over(wall).alias("st"),
        F.sum("s").over(wcum).alias("cs"),
        F.sum("n").over(wall).alias("nt"),
        F.sum("n").over(wcum).alias("cn"),
    )
    share = F.col("s").cast(_D) / F.col("st").cast(_D)
    cshare = F.col("cs").cast(_D) / F.col("st").cast(_D)
    cpop = F.col("cn").cast(_D) / F.col("nt").cast(_D)
    return cum.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n").cast("bigint").alias("n_customers"),
        F.round(share, 6).alias("spend_share"),
        F.round(cshare, 6).alias("cum_share"),
        F.round(cshare / cpop, 6).alias("cum_lift"),
    ).orderBy("decile")


_SQL_GAINS_CHART = """
WITH spend AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders GROUP BY 1
), base AS (
  SELECT NTILE(10) OVER (ORDER BY CAST(c_acctbal AS DECIMAL(18,2)) DESC,
                         c_custkey) AS decile,
         COALESCE(y, CAST(0 AS DECIMAL(18,2))) AS y
  FROM customer LEFT JOIN spend ON c_custkey = o_custkey
), per_d AS (
  SELECT decile, COUNT(*) AS n, SUM(y) AS s FROM base GROUP BY 1
), cum AS (
  SELECT decile, n, s,
         SUM(s) OVER () AS st,
         SUM(s) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cs,
         SUM(n) OVER () AS nt,
         SUM(n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cn
  FROM per_d
)
SELECT CAST(decile AS INT) AS decile,
       CAST(n AS BIGINT) AS n_customers,
       round(CAST(s AS DOUBLE) / CAST(st AS DOUBLE), 6) AS spend_share,
       round(CAST(cs AS DOUBLE) / CAST(st AS DOUBLE), 6) AS cum_share,
       round((CAST(cs AS DOUBLE) / CAST(st AS DOUBLE))
             / (CAST(cn AS DOUBLE) / CAST(nt AS DOUBLE)), 6) AS cum_lift
FROM cum
ORDER BY decile
"""


# ---------------------------------------------------------------------------
# Mean reciprocal rank: the first-relevant-hit retrieval metric
# ---------------------------------------------------------------------------

_MRR_MIN_ORDERS = 5


def _q_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank of balance-ranked customer lists: each
    nation is a "query", its customers ranked by account balance, a
    customer is "relevant" when they placed >= 5 orders; MRR = mean of
    1/rank-of-first-relevant (0 for nations with no relevant customer —
    the standard convention).  Beside q_ndcg (graded, discounted) and
    q_auc_eval (threshold-free), this is the first-hit metric.  Each
    1/rank is frozen to DECIMAL(18,6) before the mean (order-free);
    ranks tie-break on c_custkey.  Scale: one orders rollup, one
    rank window partitioned by nation, one 25-row reduce."""
    cat = Catalog(sf_dir)
    cust = scan(spark, cat, "customer", ["c_custkey", "c_nationkey", "c_acctbal"])
    orders = scan(spark, cat, "orders", ["o_custkey"])
    cnt = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    base = cust.join(cnt, cust.c_custkey == cnt.o_custkey, "left").select(
        "c_nationkey",
        "c_custkey",
        money("c_acctbal").alias("bal"),
        (F.coalesce("n_orders", F.lit(0)) >= _MRR_MIN_ORDERS).alias("rel"),
    )
    ranked = base.select(
        "c_nationkey",
        "rel",
        F.row_number()
        .over(Window.partitionBy("c_nationkey").orderBy(F.desc("bal"), "c_custkey"))
        .alias("rnk"),
    )
    first_rel = ranked.filter("rel").groupBy("c_nationkey").agg(
        F.min("rnk").alias("first_rank")
    )
    n_nations = base.select("c_nationkey").distinct().count()
    rr = F.round(1.0 / F.col("first_rank").cast(_D), 6).cast("decimal(18,6)")
    return first_rel.agg(
        F.lit(n_nations).cast("bigint").alias("n_queries"),
        F.count(F.lit(1)).alias("n_with_relevant"),
        # n_nations = 0 (empty customer) is an explicit NULL refusal;
        # the numerator is NULL there too, but guard the 0-denominator
        # rather than lean on NULL/0 semantics (ADVICE r4).
        F.round(
            F.when(
                F.lit(n_nations) > 0, F.sum(rr).cast(_D) / F.lit(n_nations).cast(_D)
            ),
            6,
        ).alias("mrr"),
    )


_SQL_MRR = f"""
WITH cnt AS (
  SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY 1
), base AS (
  SELECT c_nationkey, c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
         COALESCE(n_orders, 0) >= {_MRR_MIN_ORDERS} AS rel
  FROM customer LEFT JOIN cnt ON c_custkey = o_custkey
), ranked AS (
  SELECT c_nationkey, rel,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY bal DESC, c_custkey) AS rnk
  FROM base
), first_rel AS (
  SELECT c_nationkey, MIN(rnk) AS first_rank FROM ranked WHERE rel GROUP BY 1
), nq AS (
  SELECT COUNT(DISTINCT c_nationkey) AS n_queries FROM base
)
SELECT n_queries,
       (SELECT COUNT(*) FROM first_rel) AS n_with_relevant,
       round(CASE WHEN n_queries > 0 THEN
               CAST((SELECT SUM(CAST(round(1.0 / CAST(first_rank AS DOUBLE), 6)
                                     AS DECIMAL(18,6))) FROM first_rel) AS DOUBLE)
               / CAST(n_queries AS DOUBLE) END, 6) AS mrr
FROM nq
"""


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction on the trade graph
# ---------------------------------------------------------------------------

_AA_TOPK = 20


def _q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the undirected top-3 trade graph:
    for each NON-adjacent pair (u, v), AA(u,v) = sum over common
    neighbors z of 1/ln(deg(z)) — the log-degree-penalized variant
    beside q_link_pred's fully rational 1/deg.  Every common neighbor
    has deg >= 2 (it touches both u and v), so ln(deg) > 0.  Each
    1/ln(deg) is computed on an exactly-shared double and frozen to
    DECIMAL(18,6) before summation (order-free); top-20 tie-breaks on
    (score desc, u, v).  Scale: the same wedge enumeration bounded by
    sum(deg^2), never |V|^2."""
    from dbt_lab_spark.workload_extras import _trade_edges_topk

    edges = _trade_edges_topk(spark, sf_dir)
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    adj = und.select(F.col("a").alias("x"), F.col("b").alias("y")).unionAll(
        und.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )
    deg = adj.groupBy("x").agg(F.count(F.lit(1)).alias("deg"))
    wz = F.round(1.0 / F.log(F.col("deg").cast(_D)), 6).cast("decimal(18,6)")
    j1 = adj.select(F.col("x").alias("u"), F.col("y").alias("z"))
    j2 = adj.select(F.col("x").alias("z2"), F.col("y").alias("v"))
    wedges = j1.join(j2, j1.z == j2.z2).filter(F.col("u") < F.col("v"))
    cand = wedges.join(und, (wedges.u == und.a) & (wedges.v == und.b), "left_anti")
    scored = (
        cand.join(F.broadcast(deg.select(F.col("x").alias("z"), wz.alias("wz"))), "z")
        .groupBy("u", "v")
        .agg(F.sum("wz").alias("aa_dec"), F.count(F.lit(1)).alias("n_common"))
    )
    top = scored.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("aa_dec"), "u", "v"))
    ).filter(F.col("rn") <= _AA_TOPK)
    return top.select(
        "u", "v", "n_common",
        F.round(F.col("aa_dec").cast(_D), 6).alias("aa"),
        F.col("rn").alias("rank"),
    ).orderBy("rank")


def _sql_adamic_adar() -> str:
    from dbt_lab_spark.workload_extras import _SQL_TRADE_EDGES

    return f"""
WITH {_SQL_TRADE_EDGES},
und AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM edges
),
adj AS (
  SELECT a AS x, b AS y FROM und UNION ALL SELECT b AS x, a AS y FROM und
),
deg AS (
  SELECT x, COUNT(*) AS deg FROM adj GROUP BY 1
),
wedges AS (
  SELECT j1.y AS z, j1.x AS u, j2.x AS v
  FROM adj j1 JOIN adj j2 ON j1.y = j2.y AND j1.x < j2.x
),
cand AS (
  SELECT w.u, w.v, w.z FROM wedges w
  ANTI JOIN und ON w.u = und.a AND w.v = und.b
),
scored AS (
  SELECT u, v,
         SUM(CAST(round(1.0 / ln(CAST(deg AS DOUBLE)), 6) AS DECIMAL(18,6))) AS aa_dec,
         COUNT(*) AS n_common
  FROM cand JOIN deg ON cand.z = deg.x
  GROUP BY 1, 2
),
top AS (
  SELECT u, v, n_common, aa_dec,
         ROW_NUMBER() OVER (ORDER BY aa_dec DESC, u, v) AS rank
  FROM scored
)
SELECT u, v, n_common, round(CAST(aa_dec AS DOUBLE), 6) AS aa, rank
FROM top WHERE rank <= {_AA_TOPK}
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between the sources' unigram distributions
# ---------------------------------------------------------------------------


def _q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the per-source
    unigram distributions of the documents table — the symmetric,
    bounded drift measure beside q_kl_drift's directed KL.  For each
    source pair and token, p and q are exact-count ratios (identical
    doubles both engines); each p*ln(p/m) term (m = (p+q)/2) is frozen
    to DECIMAL(18,6) before the order-free sum.  Scale: one token
    count shuffle bounded by |vocab| x |sources|, then a tiny
    vocab-level pair join."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["source", "text"])
    toks = docs.select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    cnt = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").alias("t"))
    dist = cnt.join(tot, "source").select(
        "source", "token", (F.col("c").cast(_D) / F.col("t").cast(_D)).alias("p")
    )
    # Build the (s1, s2, token) grid explicitly: every source pair x
    # every token, with each side's probability (0 when absent) — the
    # union-of-supports JSD needs both marginals at every token.
    srcs = dist.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("s1"))
        .crossJoin(srcs.select(F.col("source").alias("s2")))
        .filter(F.col("s1") < F.col("s2"))
    )
    toks_all = dist.select("token").distinct()
    grid = pairs.crossJoin(toks_all)
    withp = (
        grid.join(
            dist.select(F.col("source").alias("s1"), "token", F.col("p").alias("p1")),
            ["s1", "token"],
            "left",
        )
        .join(
            dist.select(F.col("source").alias("s2"), "token", F.col("p").alias("p2")),
            ["s2", "token"],
            "left",
        )
        .select(
            "s1",
            "s2",
            F.coalesce("p1", F.lit(0.0)).alias("p1"),
            F.coalesce("p2", F.lit(0.0)).alias("p2"),
        )
        .filter((F.col("p1") > 0) | (F.col("p2") > 0))
    )
    m = (F.col("p1") + F.col("p2")) / 2.0
    term1 = F.when(
        F.col("p1") > 0,
        F.round(F.col("p1") * F.log(F.col("p1") / m), 6).cast("decimal(18,6)"),
    ).otherwise(F.lit(0).cast("decimal(18,6)"))
    term2 = F.when(
        F.col("p2") > 0,
        F.round(F.col("p2") * F.log(F.col("p2") / m), 6).cast("decimal(18,6)"),
    ).otherwise(F.lit(0).cast("decimal(18,6)"))
    return (
        withp.select("s1", "s2", term1.alias("t1"), term2.alias("t2"))
        .groupBy("s1", "s2")
        .agg(
            F.round(
                (0.5 * F.sum("t1").cast(_D)) + (0.5 * F.sum("t2").cast(_D)), 6
            ).alias("jsd")
        )
        .orderBy("s1", "s2")
    )


_SQL_JS_DIVERGENCE = r"""
WITH toks AS (
  SELECT source, token
  FROM documents, UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(token)
  WHERE token <> ''
), cnt AS (
  SELECT source, token, COUNT(*) AS c FROM toks GROUP BY 1, 2
), tot AS (
  SELECT source, SUM(c) AS t FROM cnt GROUP BY 1
), dist AS (
  SELECT cnt.source, token, CAST(c AS DOUBLE) / CAST(t AS DOUBLE) AS p
  FROM cnt JOIN tot ON cnt.source = tot.source
), pairs AS (
  SELECT a.source AS s1, b.source AS s2
  FROM (SELECT DISTINCT source FROM dist) a,
       (SELECT DISTINCT source FROM dist) b
  WHERE a.source < b.source
), grid AS (
  SELECT s1, s2, token FROM pairs, (SELECT DISTINCT token FROM dist) t
), withp AS (
  SELECT g.s1, g.s2,
         COALESCE(d1.p, 0.0) AS p1,
         COALESCE(d2.p, 0.0) AS p2
  FROM grid g
  LEFT JOIN dist d1 ON d1.source = g.s1 AND d1.token = g.token
  LEFT JOIN dist d2 ON d2.source = g.s2 AND d2.token = g.token
  WHERE COALESCE(d1.p, 0.0) > 0 OR COALESCE(d2.p, 0.0) > 0
)
SELECT s1, s2,
       round(0.5 * CAST(SUM(CASE WHEN p1 > 0 THEN CAST(round(p1 * ln(p1 / ((p1 + p2) / 2.0)), 6) AS DECIMAL(18,6))
                                 ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
           + 0.5 * CAST(SUM(CASE WHEN p2 > 0 THEN CAST(round(p2 * ln(p2 / ((p1 + p2) / 2.0)), 6) AS DECIMAL(18,6))
                                 ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE), 6) AS jsd
FROM withp
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# Friedman test: blocked nonparametric treatment comparison
# ---------------------------------------------------------------------------


def _q_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test across the 25 nation blocks: does order
    priority (k=5 treatments) shift per-nation spend?  Within each
    block the five priority spends are average-ranked via the exact
    doubled-rank idiom (2*(rank-1) + ties + 1 — integers throughout,
    the q_kruskal_wallis convention), column rank sums stay integer,
    and the chi-square statistic is one double formula.  (Plain
    Friedman statistic; ties across a block's five DISTINCT priority
    sums are vanishingly rare but still handled exactly by the
    averaged ranks.)  Scale: one (nation, priority) rollup + one
    5-row-per-block window + a k-row reduce."""
    cat = Catalog(sf_dir)
    cust = scan(spark, cat, "customer", ["c_custkey", "c_nationkey"])
    orders = scan(spark, cat, "orders", ["o_custkey", "o_orderpriority", "o_totalprice"])
    cell = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "o_orderpriority")
        .agg((F.sum(money("o_totalprice")) * 100).cast("long").alias("x"))
    )
    wb = Window.partitionBy("c_nationkey").orderBy("x")
    we = Window.partitionBy("c_nationkey", "x")
    ranked = cell.select(
        "c_nationkey",
        "o_orderpriority",
        (2 * (F.rank().over(wb) - 1) + F.count(F.lit(1)).over(we) + 1).alias("r2"),
    )
    col_sums = ranked.groupBy("o_orderpriority").agg(
        F.sum("r2").alias("r2j"), F.count(F.lit(1)).alias("n_blocks")
    )
    agg = col_sums.agg(
        F.max("n_blocks").cast(_D).alias("n"),
        F.count(F.lit(1)).cast(_D).alias("k"),
        F.sum(
            (F.col("r2j").cast("decimal(38,0)") * F.col("r2j")).cast("decimal(38,0)")
        ).alias("s4"),  # sum of (2*Rj)^2
    )
    n, k = F.col("n"), F.col("k")
    chi2 = (12.0 / (n * k * (k + 1.0))) * (F.col("s4").cast(_D) / 4.0) - 3.0 * n * (
        k + 1.0
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_blocks"),
        F.col("k").cast("int").alias("k_treatments"),
        F.round(chi2, 4).alias("chi2_stat"),
    )


_SQL_FRIEDMAN = """
WITH cell AS (
  SELECT c_nationkey, o_orderpriority,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
), ranked AS (
  SELECT c_nationkey, o_orderpriority,
         2 * (RANK() OVER (PARTITION BY c_nationkey ORDER BY x) - 1)
           + COUNT(*) OVER (PARTITION BY c_nationkey, x) + 1 AS r2
  FROM cell
), col_sums AS (
  SELECT o_orderpriority, SUM(r2) AS r2j, COUNT(*) AS n_blocks
  FROM ranked GROUP BY 1
), agg AS (
  SELECT CAST(MAX(n_blocks) AS DOUBLE) AS n,
         CAST(COUNT(*) AS DOUBLE) AS k,
         SUM(CAST(r2j AS DECIMAL(38,0)) * r2j) AS s4
  FROM col_sums
)
SELECT CAST(n AS BIGINT) AS n_blocks,
       CAST(k AS INT) AS k_treatments,
       round((12.0 / (n * k * (k + 1.0))) * (CAST(s4 AS DOUBLE) / 4.0)
             - 3.0 * n * (k + 1.0), 4) AS chi2_stat
FROM agg
"""


# ---------------------------------------------------------------------------
# Brown-Forsythe (median-centered Levene) variance-homogeneity test
# ---------------------------------------------------------------------------


def _q_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test: are purchase-value spreads homogeneous
    across event types?  Per group, center at the EXACT discrete lower
    median (rank rule rn=(n+1)//2 — never float p*n), z = |x - med| in
    exact integer cents, then the one-way ANOVA F over z from exact
    integer moments; one double formula at the end.  Scale: one
    (type, value) compression, one median rank lookup, one z-moment
    aggregate."""
    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["event_type", "value"]).select(
        "event_type", (money("value") * 100).cast("long").alias("x")
    )
    # row_number over (x) alone: tie ORDER is arbitrary but the VALUE
    # at rank (n+1)//2 is tie-invariant, which is all the median needs.
    wr = Window.partitionBy("event_type").orderBy("x")
    numbered = ev.select("event_type", "x", F.row_number().over(wr).alias("rn"))
    counts = numbered.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    med = (
        numbered.join(counts, "event_type")
        .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2).cast("long"))
        .select("event_type", F.col("x").alias("med"))
    )
    z = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("x") - F.col("med")).alias("z")
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("ni"),
        F.sum("z").alias("szi"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z")).alias("szzi"),
    )
    agg = g.agg(
        F.count(F.lit(1)).cast(_D).alias("k"),
        F.sum("ni").cast(_D).alias("n"),
        F.sum("szi").cast(_D).alias("sz"),
        F.sum(F.col("szzi")).cast("decimal(38,0)").alias("szz"),
        F.sum(
            (F.col("szi").cast("decimal(38,0)") * F.col("szi")).cast("decimal(38,10)")
            / F.col("ni")
        ).cast(_D).alias("sgm"),  # sum of (group sum)^2 / ni
    )
    n, k = F.col("n"), F.col("k")
    ssb = F.col("sgm") - (F.col("sz") * F.col("sz")) / n
    ssw = F.col("szz").cast(_D) - F.col("sgm")
    fstat = (ssb / (k - 1.0)) / (ssw / (n - k))
    return agg.select(
        F.col("k").cast("int").alias("k_groups"),
        F.col("n").cast("bigint").alias("n_rows"),
        F.round(fstat, 4).alias("f_stat"),
    )


_SQL_LEVENE_BF = """
WITH ev AS (
  SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
  FROM events
), numbered AS (
  SELECT event_type, x,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM ev
), med AS (
  SELECT event_type, x AS med FROM numbered WHERE rn = (n + 1) // 2
), z AS (
  SELECT ev.event_type, ABS(x - med) AS z
  FROM ev JOIN med ON ev.event_type = med.event_type
), g AS (
  SELECT event_type, COUNT(*) AS ni, SUM(z) AS szi,
         SUM(CAST(z AS DECIMAL(38,0)) * z) AS szzi
  FROM z GROUP BY 1
), agg AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS k,
         CAST(SUM(ni) AS DOUBLE) AS n,
         CAST(SUM(szi) AS DOUBLE) AS sz,
         CAST(SUM(szzi) AS DOUBLE) AS szz,
         CAST(SUM(CAST(CAST(szi AS DECIMAL(38,0)) * szi AS DECIMAL(38,10)) / ni)
              AS DOUBLE) AS sgm
  FROM g
)
SELECT CAST(k AS INT) AS k_groups,
       CAST(n AS BIGINT) AS n_rows,
       round(((sgm - (sz * sz) / n) / (k - 1.0))
             / ((szz - sgm) / (n - k)), 4) AS f_stat
FROM agg
"""


# ---------------------------------------------------------------------------
# Grubbs' outlier test on the daily revenue series
# ---------------------------------------------------------------------------


def _q_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' test (maximum studentized deviate) on daily purchase
    revenue: which day deviates most from the mean, and by how many
    sample standard deviations?  The argmax is decided on the EXACT
    integer |n*x - sum| (never a float |x - xbar| — ties break on the
    day), so both engines pick the same day; G is one double formula
    from exact integer moments.  Scale: one daily rollup + one 1-row
    moment reduce + one broadcast argmax pass."""
    cat = Catalog(sf_dir)
    ev = scan(
        spark, cat, "events", ["ts", "event_type", "value"],
        predicates=[F.col("event_type") == "purchase"],
    )
    cents = (money("value") * 100).cast("long")
    daily = ev.groupBy(
        F.floor(F.unix_millis(F.col("ts")) / F.lit(86400000.0)).cast("long").alias("d")
    ).agg(F.sum(cents).alias("x"))
    mom = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    )
    dev = daily.crossJoin(F.broadcast(mom)).select(
        "d",
        "x",
        "n",
        "sx",
        "sxx",
        # exact integer |n*x - sum|: n*xbar-scaled deviation
        F.abs(
            F.col("n").cast("decimal(38,0)") * F.col("x") - F.col("sx")
        ).alias("ndev"),
    )
    top = dev.orderBy(F.desc("ndev"), "d").limit(1)
    n = F.col("n").cast(_D)
    mean = F.col("sx").cast(_D) / n / 100.0
    var = (n * F.col("sxx").cast(_D) - F.col("sx").cast(_D) * F.col("sx").cast(_D)) / (
        n * (n - 1.0)
    ) / 10000.0
    g = (F.col("ndev").cast(_D) / n / 100.0) / F.sqrt(var)
    return top.select(
        F.col("d").alias("outlier_day"),
        (F.col("x") / 100.0).alias("day_value"),
        F.col("n").cast("bigint").alias("n_days"),
        F.round(mean, 4).alias("mean_value"),
        F.round(g, 4).alias("g_stat"),
    )


_SQL_GRUBBS = """
WITH daily AS (
  SELECT CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS d,
         SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
), mom AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx
  FROM daily
), dev AS (
  SELECT d, x, n, sx, sxx,
         ABS(CAST(n AS DECIMAL(38,0)) * x - sx) AS ndev
  FROM daily CROSS JOIN mom
), top AS (
  SELECT * FROM dev ORDER BY ndev DESC, d LIMIT 1
)
SELECT d AS outlier_day,
       x / 100.0 AS day_value,
       CAST(n AS BIGINT) AS n_days,
       round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 4) AS mean_value,
       round((CAST(ndev AS DOUBLE) / CAST(n AS DOUBLE) / 100.0)
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 10000.0),
             4) AS g_stat
FROM top
"""


# ---------------------------------------------------------------------------
# Variance inflation factors for the 3-feature customer design matrix
# ---------------------------------------------------------------------------


def _q_vif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance inflation factors for the (acctbal, n_orders,
    total_spend) customer design matrix — the multicollinearity
    pre-flight before trusting OLS coefficients.  With three features
    each R_i^2 is closed-form in the pairwise correlations
    (R_1^2 = (r12^2 + r13^2 - 2 r12 r13 r23)/(1 - r23^2)), and each
    correlation comes from exact integer moments with identical
    parenthesization (the q_corr_matrix argument) — so VIFs are
    bit-reproducible.  Scale: one orders rollup + one 9-moment
    reduce."""
    cat = Catalog(sf_dir)
    cust = scan(spark, cat, "customer", ["c_custkey", "c_acctbal"])
    orders = scan(spark, cat, "orders", ["o_custkey", "o_totalprice"])
    per = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(money("o_totalprice")) * 100).cast("long").alias("spend"),
    )
    base = cust.join(per, cust.c_custkey == per.o_custkey, "left").select(
        (money("c_acctbal") * 100).cast("long").alias("x1"),
        F.coalesce("n_orders", F.lit(0)).cast("long").alias("x2"),
        F.coalesce("spend", F.lit(0)).alias("x3"),
    )
    d38 = "decimal(38,0)"
    mom = base.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"x{i}").alias(f"s{i}") for i in (1, 2, 3)],
        *[
            F.sum(F.col(f"x{i}").cast(d38) * F.col(f"x{j}")).alias(f"s{i}{j}")
            for i, j in ((1, 1), (2, 2), (3, 3), (1, 2), (1, 3), (2, 3))
        ],
    )
    n = F.col("n").cast(_D)

    def corr(i, j):
        si, sj = F.col(f"s{i}").cast(_D), F.col(f"s{j}").cast(_D)
        sij = F.col(f"s{min(i,j)}{max(i,j)}").cast(_D)
        sii, sjj = F.col(f"s{i}{i}").cast(_D), F.col(f"s{j}{j}").cast(_D)
        return (n * sij - si * sj) / F.sqrt(
            (n * sii - si * si) * (n * sjj - sj * sj)
        )

    r12, r13, r23 = corr(1, 2), corr(1, 3), corr(2, 3)

    def r2(rab, rac, rbc):
        # feature a regressed on b, c
        return (rab * rab + rac * rac - 2.0 * rab * rac * rbc) / (1.0 - rbc * rbc)

    rows = [
        ("acctbal", r2(r12, r13, r23)),
        ("n_orders", r2(r12, r23, r13)),
        ("total_spend", r2(r13, r23, r12)),
    ]
    out = None
    for name, rr in rows:
        one = mom.select(
            F.lit(name).alias("feature"),
            F.round(rr, 6).alias("r_squared"),
            F.round(1.0 / (1.0 - rr), 4).alias("vif"),
        )
        out = one if out is None else out.unionAll(one)
    return out.orderBy("feature")


_SQL_VIF = """
WITH per AS (
  SELECT o_custkey, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS spend
  FROM orders GROUP BY 1
), base AS (
  SELECT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS x1,
         CAST(COALESCE(n_orders, 0) AS BIGINT) AS x2,
         COALESCE(spend, 0) AS x3
  FROM customer LEFT JOIN per ON c_custkey = o_custkey
), mom AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x1) AS DOUBLE) AS s1, CAST(SUM(x2) AS DOUBLE) AS s2,
         CAST(SUM(x3) AS DOUBLE) AS s3,
         CAST(SUM(CAST(x1 AS DECIMAL(38,0)) * x1) AS DOUBLE) AS s11,
         CAST(SUM(CAST(x2 AS DECIMAL(38,0)) * x2) AS DOUBLE) AS s22,
         CAST(SUM(CAST(x3 AS DECIMAL(38,0)) * x3) AS DOUBLE) AS s33,
         CAST(SUM(CAST(x1 AS DECIMAL(38,0)) * x2) AS DOUBLE) AS s12,
         CAST(SUM(CAST(x1 AS DECIMAL(38,0)) * x3) AS DOUBLE) AS s13,
         CAST(SUM(CAST(x2 AS DECIMAL(38,0)) * x3) AS DOUBLE) AS s23
  FROM base
), r AS (
  SELECT
    (n * s12 - s1 * s2) / sqrt((n * s11 - s1 * s1) * (n * s22 - s2 * s2)) AS r12,
    (n * s13 - s1 * s3) / sqrt((n * s11 - s1 * s1) * (n * s33 - s3 * s3)) AS r13,
    (n * s23 - s2 * s3) / sqrt((n * s22 - s2 * s2) * (n * s33 - s3 * s3)) AS r23
  FROM mom
), rows_ AS (
  SELECT 'acctbal' AS feature,
         (r12 * r12 + r13 * r13 - 2.0 * r12 * r13 * r23) / (1.0 - r23 * r23) AS rsq
  FROM r
  UNION ALL
  SELECT 'n_orders',
         (r12 * r12 + r23 * r23 - 2.0 * r12 * r23 * r13) / (1.0 - r13 * r13)
  FROM r
  UNION ALL
  SELECT 'total_spend',
         (r13 * r13 + r23 * r23 - 2.0 * r13 * r23 * r12) / (1.0 - r12 * r12)
  FROM r
)
SELECT feature, round(rsq, 6) AS r_squared, round(1.0 / (1.0 - rsq), 4) AS vif
FROM rows_ ORDER BY feature
"""


# ---------------------------------------------------------------------------
# Equi-depth quantile bucketing (feature binning)
# ---------------------------------------------------------------------------

_QB_BUCKETS = 10


def _q_quantile_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth binning of lineitem prices into 10 buckets by EXACT
    rank arithmetic (bucket = (rn-1)*k // n over a row_number keyed on
    (value, orderkey, linenumber) — fully deterministic tie placement,
    unlike ntile whose remainder policy differs between engines), then
    per-bucket occupancy and exact value range — the feature-binning
    primitive a training pipeline runs before hashing/monotonic
    encoding.  Scale: one global sort-rank window (the known
    single-partition constraint of global ranking; at 100 TB swap in
    the percentile_approx cut path), one bucket aggregate."""
    cat = Catalog(sf_dir)
    li = scan(spark, cat, "lineitem", ["l_orderkey", "l_linenumber", "l_extendedprice"])
    x = (money("l_extendedprice") * 100).cast("long")
    w = Window.orderBy("x", "l_orderkey", "l_linenumber")
    ranked = li.select(
        x.alias("x"), "l_orderkey", "l_linenumber"
    ).select("x", F.row_number().over(w).alias("rn"))
    n = ranked.agg(F.count(F.lit(1)).alias("n"))
    b = ranked.crossJoin(F.broadcast(n)).select(
        "x",
        ((F.col("rn") - 1) * _QB_BUCKETS / F.col("n")).cast("long").alias("bucket"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.min("x") / 100.0).alias("lo"),
            (F.max("x") / 100.0).alias("hi"),
            (F.sum("x") / 100.0).alias("total"),
        )
        .orderBy("bucket")
    )


_SQL_QUANTILE_BUCKETING = f"""
WITH ranked AS (
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
         ROW_NUMBER() OVER (ORDER BY CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT),
                            l_orderkey, l_linenumber) AS rn,
         COUNT(*) OVER () AS n
  FROM lineitem
)
SELECT (rn - 1) * {_QB_BUCKETS} // n AS bucket,
       COUNT(*) AS n_rows,
       MIN(x) / 100.0 AS lo,
       MAX(x) / 100.0 AS hi,
       SUM(x) / 100.0 AS total
FROM ranked
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# K-fold out-of-fold target encoding (leakage-free categorical features)
# ---------------------------------------------------------------------------

_TE_FOLDS = 4


def _q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free K-fold target encoding of order priority against
    order value: each fold's encoded value for a category is the mean
    target over the OTHER folds (the standard out-of-fold scheme that
    keeps a row's own target out of its feature).  Folds are md5-hash
    deterministic (no RNG); leave-one-fold-out means are exact integer
    sum/count differences with one double division.  Scale: one
    (category, fold) rollup — the encode join-back is a broadcast of
    |categories| x K rows."""
    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_orderkey", "o_orderpriority", "o_totalprice"])
    fold = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long") % _TE_FOLDS
    )
    cents = (money("o_totalprice") * 100).cast("long")
    per = orders.select(
        F.col("o_orderpriority").alias("cat"), fold.alias("fold"), cents.alias("y")
    ).groupBy("cat", "fold").agg(
        F.count(F.lit(1)).alias("nf"), F.sum("y").alias("sf")
    )
    tot = per.groupBy("cat").agg(F.sum("nf").alias("nc"), F.sum("sf").alias("sc"))
    return (
        per.join(tot, "cat")
        .select(
            "cat",
            "fold",
            F.col("nf").alias("n_rows"),
            F.round(
                (F.col("sc") - F.col("sf")).cast(_D)
                / (F.col("nc") - F.col("nf")).cast(_D)
                / 100.0,
                4,
            ).alias("oof_mean"),
        )
        .orderBy("cat", "fold")
    )


_SQL_TARGET_ENCODING = f"""
WITH base AS (
  SELECT o_orderpriority AS cat,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
           % {_TE_FOLDS} AS fold,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
  FROM orders
), per AS (
  SELECT cat, fold, COUNT(*) AS nf, SUM(y) AS sf FROM base GROUP BY 1, 2
), tot AS (
  SELECT cat, SUM(nf) AS nc, SUM(sf) AS sc FROM per GROUP BY 1
)
SELECT per.cat, fold, nf AS n_rows,
       round(CAST(sc - sf AS DOUBLE) / CAST(nc - nf AS DOUBLE) / 100.0, 4) AS oof_mean
FROM per JOIN tot ON per.cat = tot.cat
ORDER BY per.cat, fold
"""


# ---------------------------------------------------------------------------
# Lexical diversity: type-token ratio and hapax fraction per source
# ---------------------------------------------------------------------------


def _q_type_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per source: type-token ratio (distinct/total
    tokens) and hapax share (types seen once / types) — the corpus-mix
    health probe beside q_zipf_fit's slope.  Pure integer counts until
    two divisions.  Scale: one (source, token) rollup bounded by
    |vocab| x |sources|."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["source", "text"])
    toks = docs.select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    per = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    return (
        per.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            "n_hapax",
            F.round(F.col("n_types").cast(_D) / F.col("n_tokens").cast(_D), 6).alias("ttr"),
            F.round(F.col("n_hapax").cast(_D) / F.col("n_types").cast(_D), 6).alias(
                "hapax_share"
            ),
        )
        .orderBy("source")
    )


_SQL_TYPE_TOKEN = r"""
WITH toks AS (
  SELECT source, token
  FROM documents, UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(token)
  WHERE token <> ''
), per AS (
  SELECT source, token, COUNT(*) AS c FROM toks GROUP BY 1, 2
)
SELECT source,
       SUM(c) AS n_tokens,
       COUNT(*) AS n_types,
       SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n_hapax,
       round(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS ttr,
       round(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_share
FROM per
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Flesch reading ease per source (vowel-group syllable heuristic)
# ---------------------------------------------------------------------------


def _q_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per source with the standard vowel-group
    syllable heuristic (syllables(word) ~ count of [aeiouy]+ runs):
    206.835 - 1.015*(words/sentences) - 84.6*(syllables/words), on
    exact integer word/sentence/syllable counts (regexp_count is
    identical RE2-class semantics in both engines).  Sentences are
    [.!?]+ runs, floored at 1 per document.  Scale: one map-only
    projection + one aggregate, no explode."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["source", "text"])
    low = F.lower(F.trim(F.col("text")))
    words = F.size(F.split(low, r"\s+"))
    sents = F.greatest(F.lit(1), F.regexp_count(low, F.lit(r"[.!?]+")))
    syll = F.regexp_count(low, F.lit("[aeiouy]+"))
    agg = docs.select(
        "source", words.alias("w"), sents.alias("s"), syll.alias("y")
    ).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").alias("sw"),
        F.sum("s").alias("ss"),
        F.sum("y").alias("sy"),
    )
    score = (
        206.835
        - 1.015 * (F.col("sw").cast(_D) / F.col("ss").cast(_D))
        - 84.6 * (F.col("sy").cast(_D) / F.col("sw").cast(_D))
    )
    return agg.select(
        "source",
        "n_docs",
        F.col("sw").alias("n_words"),
        F.col("ss").alias("n_sentences"),
        F.col("sy").alias("n_syllables"),
        F.round(score, 4).alias("flesch"),
    ).orderBy("source")


_SQL_FLESCH = r"""
WITH d AS (
  SELECT source,
         len(string_split_regex(lower(trim(text)), '\s+')) AS w,
         GREATEST(1, len(regexp_extract_all(lower(trim(text)), '[.!?]+'))) AS s,
         len(regexp_extract_all(lower(trim(text)), '[aeiouy]+')) AS y
  FROM documents
), agg AS (
  SELECT source, COUNT(*) AS n_docs, SUM(w) AS sw, SUM(s) AS ss, SUM(y) AS sy
  FROM d GROUP BY 1
)
SELECT source, n_docs, sw AS n_words, ss AS n_sentences, sy AS n_syllables,
       round(206.835 - 1.015 * (CAST(sw AS DOUBLE) / CAST(ss AS DOUBLE))
             - 84.6 * (CAST(sy AS DOUBLE) / CAST(sw AS DOUBLE)), 4) AS flesch
FROM agg
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Cohen's d effect size between event-type value distributions
# ---------------------------------------------------------------------------


def _q_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d between purchase and click values — the effect-size
    companion every significance test should ship with.  Means and the
    pooled sample SD come from one exact integer-cent moment aggregate;
    d is one double formula with identical parenthesization.  Scale:
    one conditional-moment reduce, no join."""
    cat = Catalog(sf_dir)
    ev = scan(
        spark, cat, "events", ["event_type", "value"],
        predicates=[F.col("event_type").isin("purchase", "click")],
    )
    cents = (money("value") * 100).cast("long")
    x = ev.select(
        (F.col("event_type") == "purchase").alias("is_p"), cents.alias("x")
    )
    agg = x.agg(
        F.sum(F.when(F.col("is_p"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("is_p"), F.col("x"))).alias("s1"),
        F.sum(F.when(F.col("is_p"), F.col("x").cast("decimal(38,0)") * F.col("x"))).alias("q1"),
        F.sum(F.when(~F.col("is_p"), 1).otherwise(0)).alias("n2"),
        F.sum(F.when(~F.col("is_p"), F.col("x"))).alias("s2"),
        F.sum(F.when(~F.col("is_p"), F.col("x").cast("decimal(38,0)") * F.col("x"))).alias("q2"),
    )
    n1, n2 = F.col("n1").cast(_D), F.col("n2").cast(_D)
    s1, s2 = F.col("s1").cast(_D), F.col("s2").cast(_D)
    q1, q2 = F.col("q1").cast(_D), F.col("q2").cast(_D)
    ss1 = q1 - (s1 * s1) / n1
    ss2 = q2 - (s2 * s2) / n2
    sp = F.sqrt((ss1 + ss2) / (n1 + n2 - 2.0))
    d = ((s1 / n1) - (s2 / n2)) / sp
    return agg.select(
        F.col("n1").cast("bigint").alias("n_purchase"),
        F.col("n2").cast("bigint").alias("n_click"),
        F.round((s1 / n1) / 100.0, 4).alias("mean_purchase"),
        F.round((s2 / n2) / 100.0, 4).alias("mean_click"),
        F.round(d, 6).alias("cohens_d"),
    )


_SQL_COHENS_D = """
WITH x AS (
  SELECT event_type = 'purchase' AS is_p,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
  FROM events WHERE event_type IN ('purchase', 'click')
), agg AS (
  SELECT SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN is_p THEN x END) AS s1,
         SUM(CASE WHEN is_p THEN CAST(x AS DECIMAL(38,0)) * x END) AS q1,
         SUM(CASE WHEN NOT is_p THEN 1 ELSE 0 END) AS n2,
         SUM(CASE WHEN NOT is_p THEN x END) AS s2,
         SUM(CASE WHEN NOT is_p THEN CAST(x AS DECIMAL(38,0)) * x END) AS q2
  FROM x
)
SELECT CAST(n1 AS BIGINT) AS n_purchase,
       CAST(n2 AS BIGINT) AS n_click,
       round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / 100.0, 4) AS mean_purchase,
       round((CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / 100.0, 4) AS mean_click,
       round(((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
              - (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
             / sqrt(((CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n1 AS DOUBLE))
                     + (CAST(q2 AS DOUBLE) - (CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) / CAST(n2 AS DOUBLE)))
                    / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)), 6) AS cohens_d
FROM agg
"""


# ---------------------------------------------------------------------------
# Brier score with reliability / resolution / uncertainty decomposition
# ---------------------------------------------------------------------------

_BRIER_BINS = 10


def _q_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score + Murphy decomposition for a decile forecaster:
    customers binned by exact-rank acctbal decile get forecast
    p = (decile + 0.5)/10 for the event "placed an URGENT order"; the
    score decomposes into reliability - resolution + uncertainty over
    the 10 forecast bins.  Everything is integer counts against FIXED
    literal forecasts, so each component is a double formula over
    exact sums.  Scale: one orders rollup, one global rank window, one
    10-row decomposition."""
    cat = Catalog(sf_dir)
    cust = scan(spark, cat, "customer", ["c_custkey", "c_acctbal"])
    orders = scan(spark, cat, "orders", ["o_custkey", "o_orderpriority"])
    urgent = orders.groupBy("o_custkey").agg(
        F.max((F.col("o_orderpriority") == "1-URGENT").cast("int")).alias("y")
    )
    base = cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left").select(
        "c_custkey",
        (money("c_acctbal") * 100).cast("long").alias("bal"),
        F.coalesce("y", F.lit(0)).alias("y"),
    )
    w = Window.orderBy("bal", "c_custkey")
    n = base.agg(F.count(F.lit(1)).alias("n"))
    binned = base.select("y", F.row_number().over(w).alias("rn")).crossJoin(
        F.broadcast(n)
    ).select(
        "y", ((F.col("rn") - 1) * _BRIER_BINS / F.col("n")).cast("long").alias("b")
    )
    per = binned.groupBy("b").agg(
        F.count(F.lit(1)).alias("nb"), F.sum("y").alias("yb")
    )
    tot = per.agg(
        F.sum("nb").alias("n"),
        F.sum("yb").alias("sy"),
        F.sum(
            F.pow((F.col("b").cast(_D) + 0.5) / _BRIER_BINS - F.col("yb").cast(_D) / F.col("nb").cast(_D), F.lit(2.0))
            * F.col("nb").cast(_D)
        ).alias("rel_num"),
    )
    # resolution needs ybar: second pass over the 10-row frame
    per2 = per.crossJoin(F.broadcast(tot)).agg(
        F.max("n").alias("n"),
        F.max("sy").alias("sy"),
        F.max("rel_num").alias("rel_num"),
        F.sum(
            F.pow(
                F.col("yb").cast(_D) / F.col("nb").cast(_D)
                - F.col("sy").cast(_D) / F.col("n").cast(_D),
                F.lit(2.0),
            )
            * F.col("nb").cast(_D)
        ).alias("res_num"),
    )
    nd = F.col("n").cast(_D)
    ybar = F.col("sy").cast(_D) / nd
    rel = F.col("rel_num") / nd
    res = F.col("res_num") / nd
    unc = ybar * (1.0 - ybar)
    return per2.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.round(ybar, 6).alias("base_rate"),
        F.round(rel, 6).alias("reliability"),
        F.round(res, 6).alias("resolution"),
        F.round(unc, 6).alias("uncertainty"),
        F.round(rel - res + unc, 6).alias("brier"),
    )


_SQL_BRIER_SCORE = f"""
WITH urgent AS (
  SELECT o_custkey, MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS y
  FROM orders GROUP BY 1
), base AS (
  SELECT c_custkey,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal,
         COALESCE(y, 0) AS y
  FROM customer LEFT JOIN urgent ON c_custkey = o_custkey
), binned AS (
  SELECT y,
         (ROW_NUMBER() OVER (ORDER BY bal, c_custkey) - 1) * {_BRIER_BINS}
           // COUNT(*) OVER () AS b
  FROM base
), per AS (
  SELECT b, COUNT(*) AS nb, SUM(y) AS yb FROM binned GROUP BY 1
), tot AS (
  SELECT SUM(nb) AS n, SUM(yb) AS sy,
         SUM(pow((CAST(b AS DOUBLE) + 0.5) / {_BRIER_BINS}
                 - CAST(yb AS DOUBLE) / CAST(nb AS DOUBLE), 2.0)
             * CAST(nb AS DOUBLE)) AS rel_num
  FROM per
), per2 AS (
  SELECT MAX(n) AS n, MAX(sy) AS sy, MAX(rel_num) AS rel_num,
         SUM(pow(CAST(yb AS DOUBLE) / CAST(nb AS DOUBLE)
                 - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 2.0)
             * CAST(nb AS DOUBLE)) AS res_num
  FROM per CROSS JOIN tot
)
SELECT CAST(n AS BIGINT) AS n_customers,
       round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS base_rate,
       round(rel_num / CAST(n AS DOUBLE), 6) AS reliability,
       round(res_num / CAST(n AS DOUBLE), 6) AS resolution,
       round((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
             * (1.0 - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS uncertainty,
       round(rel_num / CAST(n AS DOUBLE) - res_num / CAST(n AS DOUBLE)
             + (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
               * (1.0 - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS brier
FROM per2
"""


# ---------------------------------------------------------------------------
# Simplified (centroid) silhouette over the seeded clustering
# ---------------------------------------------------------------------------


def _q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette of the seeded id%C clustering (the
    centroid-distance variant: a(i) = cosine distance to the OWN
    centroid, b(i) = min distance to any other — one broadcast pass,
    never the O(n^2/k) pairwise form): per-cluster mean silhouette is
    the cluster-quality report a pipeline reads before trusting
    SemDeDup buckets.  Assignment reuses the oracle-proven ivf_assign
    plane; distances are the same sequential-fold dot the DuckDB
    oracle computes; each s_i is frozen to DECIMAL(18,6) before the
    per-cluster decimal mean.  Scale: one map-only assign + one
    C-literal distance projection + one aggregate."""
    from dbt_lab_spark.llm.similarity import ivf_assign, ivf_centroids
    from dbt_lab_spark.functions.vectors import dot, l2_norm, to_double_array

    cat = Catalog(sf_dir)
    # The embedding-parse + assign pipeline is referenced twice (join
    # build and probe) off a single-row-group scan; fan out so both
    # subtrees run at core parallelism (size-gated, guide §2.4).
    emb = fan_out_if_small(scan(spark, cat, "embeddings", ["vec_id", "embedding"]))
    C = 8
    cents = ivf_centroids(emb, num_centroids=C, iters=0, dim=64)
    assigned = ivf_assign(emb, cents, "embedding", "vec_id", with_vec=False).select(
        F.col("neighbor_id").alias("vec_id"), "cluster"
    )
    v = to_double_array("embedding")
    nrm = l2_norm(v)
    nv = F.transform(v, lambda x: x / F.when(nrm == 0, F.lit(1.0)).otherwise(nrm))
    base = emb.join(assigned, "vec_id").select("vec_id", "cluster", nv.alias("nv"))
    dists = [
        (1.0 - dot(F.col("nv"), F.array(*[F.lit(float(x)) for x in cents[j]]))).alias(
            f"d{j}"
        )
        for j in range(C)
    ]
    withd = base.select("vec_id", "cluster", *dists)
    a = F.coalesce(
        *[F.when(F.col("cluster") == j, F.col(f"d{j}")) for j in range(C)]
    )
    b = F.array_min(
        F.transform(
            F.filter(
                F.array(
                    *[
                        F.struct(F.lit(j).alias("j"), F.col(f"d{j}").alias("d"))
                        for j in range(C)
                    ]
                ),
                lambda s: s["j"] != F.col("cluster"),
            ),
            lambda s: s["d"],
        )
    )
    s = F.when(F.greatest(a, b) == 0, F.lit(0.0)).otherwise(
        (b - a) / F.greatest(a, b)
    )
    scored = withd.select(
        "cluster", F.round(s, 6).cast("decimal(18,6)").alias("s6")
    )
    return (
        scored.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.avg("s6").cast(_D), 6).alias("mean_silhouette"),
        )
        .orderBy("cluster")
    )


def _sql_silhouette() -> str:
    from dbt_lab_spark.workload_beyond import _sql_seeded_centroids

    return f"""
WITH {_sql_seeded_centroids("TRUE")},
nvx AS (
  SELECT a.vec_id, a.cluster,
         list_transform(a.v, x -> x / (CASE WHEN sqrt(list_dot_product(a.v, a.v)) = 0
                                            THEN 1.0
                                            ELSE sqrt(list_dot_product(a.v, a.v)) END)) AS nv
  FROM assign a
), d AS (
  SELECT n.vec_id, n.cluster, cent.cluster AS j,
         1.0 - list_dot_product(n.nv, cent.c) AS dist
  FROM nvx n CROSS JOIN cent
), ab AS (
  SELECT vec_id, cluster,
         MIN(CASE WHEN j = cluster THEN dist END) AS a,
         MIN(CASE WHEN j <> cluster THEN dist END) AS b
  FROM d GROUP BY 1, 2
), s AS (
  SELECT cluster,
         CAST(round(CASE WHEN GREATEST(a, b) = 0 THEN 0.0
                         ELSE (b - a) / GREATEST(a, b) END, 6)
              AS DECIMAL(18,6)) AS s6
  FROM ab
)
SELECT cluster, COUNT(*) AS n_points,
       round(CAST(AVG(s6) AS DOUBLE), 6) AS mean_silhouette
FROM s GROUP BY cluster ORDER BY cluster
"""


# ---------------------------------------------------------------------------
# Near-dup cluster-size histogram (minhash-md5 pairs -> CC -> sizes)
# ---------------------------------------------------------------------------


def _q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram: md5-minhash+LSH pairs ->
    connected components -> component sizes -> (size, n_clusters) —
    the corpus-health summary a dedup pass reports (how much mass sits
    in big duplicate families vs singletons).  Composition of two
    oracle-proven stages; the DuckDB oracle resolves clusters with the
    same recursive transitive closure as q_dedup_apply_md5.  Scale:
    banded LSH + O(log d) min-label CC + two tiny aggregates."""
    from dbt_lab_spark.llm.dedup import connected_components, minhash_dedup_pairs

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text"])
    pairs = minhash_dedup_pairs(
        docs, num_hashes=16, shingle_k=3, num_bands=4, threshold=0.7, base_hash="md5"
    )
    comps = connected_components(pairs.select("id_a", "id_b"))
    sizes = comps.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
    in_pairs = comps.agg(F.count(F.lit(1)).alias("m")).collect()[0]["m"]
    hist = sizes.groupBy("size").agg(F.count(F.lit(1)).alias("n_clusters"))
    singles = local_df(spark, 
        [(1, int(n_docs - in_pairs))], "size long, n_clusters long"
    )
    return (
        hist.unionByName(singles)
        .groupBy("size")
        .agg(F.sum("n_clusters").alias("n_clusters"))
        .filter(F.col("n_clusters") > 0)
        .orderBy("size")
    )


def _sql_dup_cluster_sizes() -> str:
    from dbt_lab_spark.workload_beyond import _sql_minhash_md5_ctes

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
), sizes AS (
  SELECT component, COUNT(*) AS size FROM comp GROUP BY 1
)
SELECT size, COUNT(*) AS n_clusters
FROM sizes GROUP BY size
HAVING COUNT(*) > 0
ORDER BY size
"""


# ---------------------------------------------------------------------------
# Shingle containment: the asymmetric near-dup measure jaccard misses
# ---------------------------------------------------------------------------

_CONT_THRESHOLD = 0.6
# Corpus-scale skew cap for the inverted index (VERDICT r4 #3): shingles
# in more than this many docs are dropped from candidate generation and
# the survivors re-verified exactly on the full arrays, so reported
# values are unchanged (pinned capped == uncapped in tests/test_wave31).
_CONT_MAX_DF = 64


def _q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs shingle CONTAINMENT (|A n B|/|A|, both
    directions): the asymmetric near-dup measure that catches a snippet
    embedded in a larger page, which symmetric Jaccard under-scores.
    Routed through the operator-level containment_all_pairs
    (llm/dedup.py) WITH the max_doc_freq=64 hot-shingle cap + exact
    re-verify (VERDICT r4 #3: the cap is now actually applied, not just
    documented): the inverted index drops boilerplate shingles, capping
    per-shingle pair emission at 64², and candidates are re-verified on
    the full shingle arrays so every returned value is exact — the
    DuckDB oracle computes the UNCAPPED exact join and must hash-match.
    Kept when max(containment) >= 0.6."""
    from dbt_lab_spark.llm.dedup import containment_all_pairs

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text"])
    pairs = containment_all_pairs(
        docs, shingle_k=3, threshold=_CONT_THRESHOLD, max_doc_freq=_CONT_MAX_DF
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.round("containment_a_in_b", 6).alias("containment_a_in_b"),
        F.round("containment_b_in_a", 6).alias("containment_b_in_a"),
    ).orderBy("id_a", "id_b")


_SQL_CONTAINMENT = rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
              ELSE [array_to_string(t[i:i+2], ' ') FOR i IN generate_series(1, len(t)-2)]
         END) AS s
  FROM toks
), ex AS (
  SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb, COUNT(*) AS c
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       round(CAST(c AS DOUBLE) / CAST(na AS DOUBLE), 6) AS containment_a_in_b,
       round(CAST(c AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS containment_b_in_a
FROM shared
WHERE GREATEST(CAST(c AS DOUBLE) / CAST(na AS DOUBLE),
               CAST(c AS DOUBLE) / CAST(nb AS DOUBLE)) >= {_CONT_THRESHOLD}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# N-gram novelty: how much of each source is new vs everything earlier
# ---------------------------------------------------------------------------


def _q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty accounting: a 3-shingle is NOVEL in the document
    where it first appears (min doc_id); per source, the share of
    (doc, shingle) occurrences that are novel — the curve a dedup /
    data-mixing pass watches to see whether new data still adds
    information.  One shingle rollup (min doc_id per shingle — the
    first-occurrence trick, |shingle-domain|-bounded) joined back to
    the per-doc distinct shingle sets.  Pure integers until one
    division."""
    from dbt_lab_spark.functions.text import shingles

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "source", "text"])
    sh = docs.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(shingles("text", 3))).alias("g"),
    )
    first = sh.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    joined = sh.join(first, "g").select(
        "source", (F.col("doc_id") == F.col("first_doc")).alias("novel")
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_shingle_occurrences"),
            F.sum(F.col("novel").cast("long")).alias("n_novel"),
        )
        .select(
            "source",
            "n_shingle_occurrences",
            "n_novel",
            F.round(
                F.col("n_novel").cast(_D) / F.col("n_shingle_occurrences").cast(_D), 6
            ).alias("novelty"),
        )
        .orderBy("source")
    )


_SQL_NGRAM_NOVELTY = r"""
WITH toks AS (
  SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents
), sh AS (
  SELECT doc_id, source,
         unnest(list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
              ELSE [array_to_string(t[i:i+2], ' ') FOR i IN generate_series(1, len(t)-2)]
         END)) AS g
  FROM toks
), first AS (
  SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY 1
)
SELECT source,
       COUNT(*) AS n_shingle_occurrences,
       SUM(CASE WHEN sh.doc_id = first.first_doc THEN 1 ELSE 0 END) AS n_novel,
       round(CAST(SUM(CASE WHEN sh.doc_id = first.first_doc THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
FROM sh JOIN first ON sh.g = first.g
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Near-zero-variance feature audit
# ---------------------------------------------------------------------------

_NZV_COLS = ("l_quantity", "l_discount", "l_tax", "l_returnflag", "l_linestatus")


def _q_nzv_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-zero-variance feature screen over five lineitem columns:
    per column the NDV, the top-two value frequencies, their ratio, and
    the percent-unique — the caret-style nzv flag (freq_ratio > 19 AND
    pct_unique < 0.1) that drops degenerate features before training.
    One (column, value) rollup per column (unioned — the value domains
    are tiny), integer counts, two divisions."""
    cat = Catalog(sf_dir)
    li = scan(spark, cat, "lineitem", list(_NZV_COLS))
    out = None
    for c in _NZV_COLS:
        per = li.groupBy(F.col(c).cast("string").alias("v")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        w = Window.orderBy(F.desc("cnt"), "v")
        stats = per.select(
            "cnt", F.row_number().over(w).alias("rk")
        ).agg(
            F.sum("cnt").alias("n"),
            F.count(F.lit(1)).alias("ndv"),
            F.max(F.when(F.col("rk") == 1, F.col("cnt"))).alias("top1"),
            F.max(F.when(F.col("rk") == 2, F.col("cnt"))).alias("top2"),
        )
        row = stats.select(
            F.lit(c).alias("feature"),
            "n",
            "ndv",
            "top1",
            F.coalesce("top2", F.lit(0)).alias("top2"),
            F.round(
                F.col("top1").cast(_D) / F.coalesce(F.col("top2"), F.lit(1)).cast(_D), 4
            ).alias("freq_ratio"),
            F.round(F.col("ndv").cast(_D) / F.col("n").cast(_D), 6).alias("pct_unique"),
        )
        row = row.select(
            "*",
            (
                (F.col("freq_ratio") > 19.0) & (F.col("pct_unique") < 0.1)
            ).alias("near_zero_variance"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("feature")


def _sql_nzv_audit() -> str:
    parts = []
    for c in _NZV_COLS:
        parts.append(f"""
SELECT '{c}' AS feature, n, ndv, top1, top2,
       round(CAST(top1 AS DOUBLE) / CAST(CASE WHEN top2 = 0 THEN 1 ELSE top2 END AS DOUBLE), 4) AS freq_ratio,
       round(CAST(ndv AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pct_unique,
       (CAST(top1 AS DOUBLE) / CAST(CASE WHEN top2 = 0 THEN 1 ELSE top2 END AS DOUBLE)) > 19.0
         AND (CAST(ndv AS DOUBLE) / CAST(n AS DOUBLE)) < 0.1 AS near_zero_variance
FROM (
  SELECT SUM(cnt) AS n, COUNT(*) AS ndv,
         MAX(CASE WHEN rk = 1 THEN cnt END) AS top1,
         COALESCE(MAX(CASE WHEN rk = 2 THEN cnt END), 0) AS top2
  FROM (
    SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, v) AS rk
    FROM (SELECT CAST({c} AS VARCHAR) AS v, COUNT(*) AS cnt FROM lineitem GROUP BY 1)
  )
)""")
    return " UNION ALL ".join(parts) + " ORDER BY feature"


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman market concentration per nation
# ---------------------------------------------------------------------------


def _q_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier revenue within
    each supplier nation: HHI = sum of squared revenue shares =
    sum(r_i^2)/ (sum r_i)^2 over exact integer cents — the market-
    structure metric beside q_gini's inequality view.  One lineitem
    rollup + broadcast supplier dim + a 25-row reduce; one double
    division."""
    cat = Catalog(sf_dir)
    li = scan(spark, cat, "lineitem", ["l_suppkey", "l_extendedprice", "l_discount"])
    sup = scan(spark, cat, "supplier", ["s_suppkey", "s_nationkey"])
    rev = (money("l_extendedprice") * (1 - money("l_discount")) * 100).cast("long")
    per = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy("s_nationkey", "s_suppkey")
        .agg(F.sum(rev).alias("r"))
    )
    agg = per.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("r").alias("tot"),
        F.sum(F.col("r").cast("decimal(38,0)") * F.col("r")).alias("sq"),
    )
    hhi = F.col("sq").cast(_D) / (F.col("tot").cast(_D) * F.col("tot").cast(_D))
    return agg.select(
        F.col("s_nationkey").alias("nationkey"),
        "n_suppliers",
        F.round(hhi, 6).alias("hhi"),
    ).orderBy("nationkey")


_SQL_HHI = """
WITH per AS (
  SELECT s_nationkey, s_suppkey,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2))) * 100 AS BIGINT)) AS r
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2
), agg AS (
  SELECT s_nationkey, COUNT(*) AS n_suppliers, SUM(r) AS tot,
         SUM(CAST(r AS DECIMAL(38,0)) * r) AS sq
  FROM per GROUP BY 1
)
SELECT s_nationkey AS nationkey, n_suppliers,
       round(CAST(sq AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)), 6) AS hhi
FROM agg
ORDER BY nationkey
"""


# ---------------------------------------------------------------------------
# IQR fences (Tukey outliers) in pure integer arithmetic
# ---------------------------------------------------------------------------


def _q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey 1.5-IQR outlier counts per event type with EXACT discrete
    quartiles (rank rules (n+1)//4 and (3*(n+1))//4, never float p*n)
    and the fence test in PURE INTEGERS: x is an outlier iff
    2*x > 2*q3 + 3*iqr or 2*x < 2*q1 - 3*iqr — the halves that 1.5*IQR
    introduces never materialize as floats.  One rank window over the
    compressed (type, value) domain + one broadcast fence join."""
    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["event_type", "value"]).select(
        "event_type", (money("value") * 100).cast("long").alias("x")
    )
    wr = Window.partitionBy("event_type").orderBy("x")
    numbered = ev.select("event_type", "x", F.row_number().over(wr).alias("rn"))
    counts = numbered.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    q1r = F.greatest(F.lit(1), F.floor((F.col("n") + 1) / 4).cast("long"))
    q3r = F.least(F.col("n"), F.floor(3 * (F.col("n") + 1) / 4).cast("long"))
    marked = numbered.join(counts, "event_type")
    q1 = marked.filter(F.col("rn") == q1r).select(
        "event_type", F.col("x").alias("q1")
    )
    q3 = marked.filter(F.col("rn") == q3r).select(
        "event_type", F.col("x").alias("q3")
    )
    fences = q1.join(q3, "event_type")
    out = ev.join(F.broadcast(fences), "event_type").select(
        "event_type",
        "q1",
        "q3",
        (
            (2 * F.col("x") > 2 * F.col("q3") + 3 * (F.col("q3") - F.col("q1")))
            | (2 * F.col("x") < 2 * F.col("q1") - 3 * (F.col("q3") - F.col("q1")))
        ).cast("long").alias("is_out"),
    )
    return (
        out.groupBy("event_type", "q1", "q3")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("is_out").alias("n_outliers"))
        .select(
            "event_type",
            (F.col("q1") / 100.0).alias("q1"),
            (F.col("q3") / 100.0).alias("q3"),
            "n_rows",
            "n_outliers",
        )
        .orderBy("event_type")
    )


_SQL_IQR_OUTLIERS = """
WITH ev AS (
  SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
  FROM events
), numbered AS (
  SELECT event_type, x,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM ev
), q1 AS (
  SELECT event_type, x AS q1 FROM numbered
  WHERE rn = GREATEST(1, (n + 1) // 4)
), q3 AS (
  SELECT event_type, x AS q3 FROM numbered
  WHERE rn = LEAST(n, (3 * (n + 1)) // 4)
), fences AS (
  SELECT q1.event_type, q1, q3 FROM q1 JOIN q3 ON q1.event_type = q3.event_type
)
SELECT ev.event_type,
       q1 / 100.0 AS q1,
       q3 / 100.0 AS q3,
       COUNT(*) AS n_rows,
       SUM(CASE WHEN 2 * x > 2 * q3 + 3 * (q3 - q1)
                  OR 2 * x < 2 * q1 - 3 * (q3 - q1) THEN 1 ELSE 0 END) AS n_outliers
FROM ev JOIN fences ON ev.event_type = fences.event_type
GROUP BY 1, 2, 3
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Language-ID confusion matrix (declared vs predicted)
# ---------------------------------------------------------------------------


def _q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-word language identifier against
    the corpus's declared lang column — the validation a pipeline runs
    before trusting a lang filter.  Pure expression predictions (no
    UDF); the oracle replays the same marker voting CASE as
    q_lang_quality.  One map-only projection + one tiny rollup."""
    from dbt_lab_spark.functions.text import lang_id

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["lang", "text"])
    return (
        docs.select(F.col("lang").alias("declared"), lang_id("text").alias("predicted"))
        .groupBy("declared", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("agree", F.col("declared") == F.col("predicted"))
        .orderBy("declared", "predicted")
    )


_SQL_LANG_CONFUSION = r"""
WITH scored AS (
  SELECT lang AS declared,
         len(list_intersect(string_split_regex(lower(trim(text)), '\s+'),
             ['the','and','of','to','is','in','that','it','for','with'])) AS s_en,
         len(list_intersect(string_split_regex(lower(trim(text)), '\s+'),
             ['der','die','das','und','ist','nicht','ein','mit','auf','für'])) AS s_de,
         len(list_intersect(string_split_regex(lower(trim(text)), '\s+'),
             ['le','la','les','et','est','une','pour','dans','que','des'])) AS s_fr,
         len(list_intersect(string_split_regex(lower(trim(text)), '\s+'),
             ['el','la','los','y','es','una','para','en','que','por'])) AS s_es
  FROM documents
), pred AS (
  SELECT declared,
         CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
              WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
              WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
              WHEN s_fr >= s_es THEN 'fr'
              ELSE 'es' END AS predicted
  FROM scored
)
SELECT declared, predicted, COUNT(*) AS n_docs,
       declared = predicted AS agree
FROM pred GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# Document-length percentiles per source (exact discrete ranks)
# ---------------------------------------------------------------------------


def _q_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length profile per source: exact discrete P10/P50/P90 of
    per-doc token counts via rank rules (max(1,(n+1)//10), (n+1)//2,
    min(n, 9*(n+1)//10)) — never float p*n — the pre-packing length
    audit.  One token-count projection, one rank window over the
    per-source doc lists, three rank lookups."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["source", "text"])
    tc = docs.select(
        "source", F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("len")
    )
    wr = Window.partitionBy("source").orderBy("len")
    numbered = tc.select("source", "len", F.row_number().over(wr).alias("rn"))
    counts = numbered.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    j = numbered.join(counts, "source")
    r10 = F.greatest(F.lit(1), F.floor((F.col("n") + 1) / 10).cast("long"))
    r50 = F.floor((F.col("n") + 1) / 2).cast("long")
    r90 = F.least(F.col("n"), F.floor(9 * (F.col("n") + 1) / 10).cast("long"))
    p10 = j.filter(F.col("rn") == r10).select("source", F.col("len").alias("p10"))
    p50 = j.filter(F.col("rn") == r50).select("source", F.col("len").alias("p50"))
    p90 = j.filter(F.col("rn") == r90).select("source", F.col("len").alias("p90"))
    return (
        counts.join(p10, "source").join(p50, "source").join(p90, "source")
        .select("source", F.col("n").alias("n_docs"), "p10", "p50", "p90")
        .orderBy("source")
    )


_SQL_LENGTH_PROFILE = r"""
WITH tc AS (
  SELECT source, len(string_split_regex(lower(trim(text)), '\s+')) AS len
  FROM documents
), numbered AS (
  SELECT source, len,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY len) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM tc
)
SELECT source, MAX(n) AS n_docs,
       MAX(CASE WHEN rn = GREATEST(1, (n + 1) // 10) THEN len END) AS p10,
       MAX(CASE WHEN rn = (n + 1) // 2 THEN len END) AS p50,
       MAX(CASE WHEN rn = LEAST(n, (9 * (n + 1)) // 10) THEN len END) AS p90
FROM numbered
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Heaps' law fit: vocabulary growth over corpus prefixes
# ---------------------------------------------------------------------------

_HEAPS_PREFIXES = 10


def _q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: cumulative distinct vocabulary V
    vs cumulative token count N at 10 doc-rank prefixes, plus the
    fitted exponent beta from ln V ~ ln N OLS (Heaps: V = K N^beta,
    beta < 1 for natural language).  V per prefix is the
    first-occurrence trick (count tokens whose MIN doc rank falls in
    the prefix — never a per-prefix re-scan); ln terms are frozen
    round-6 decimals; the 10-point OLS is one reduce.  Scale: one
    token explode + one token-domain rollup + a 10-row frame."""
    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text"])
    wr = Window.orderBy("doc_id")
    ranked = docs.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("toks")
    ).select("doc_id", "toks", F.row_number().over(wr).alias("rk"))
    n_docs = ranked.agg(F.max("rk").alias("nd"))
    # prefix bucket of each doc rank: 1..10 (ceil(rk*10/nd))
    b = F.ceil(F.col("rk") * _HEAPS_PREFIXES / F.col("nd")).cast("long")
    toks = ranked.crossJoin(F.broadcast(n_docs)).select(
        b.alias("b"), F.explode("toks").alias("tok")
    ).filter(F.col("tok") != "")
    tokens_per_b = toks.groupBy("b").agg(F.count(F.lit(1)).alias("nt"))
    first_b = toks.groupBy("tok").agg(F.min("b").alias("fb"))
    vocab_per_b = first_b.groupBy("fb").agg(F.count(F.lit(1)).alias("nv"))
    wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    frame = (
        tokens_per_b.join(vocab_per_b, tokens_per_b.b == vocab_per_b.fb, "left")
        .select("b", "nt", F.coalesce("nv", F.lit(0)).alias("nv"))
        .select(
            "b",
            F.sum("nt").over(wcum).alias("cum_tokens"),
            F.sum("nv").over(wcum).alias("cum_vocab"),
        )
    )
    ln = lambda c: F.round(F.log(F.col(c).cast(_D)), 6).cast("decimal(18,6)")
    lncols = frame.select(
        "b", "cum_tokens", "cum_vocab", ln("cum_tokens").alias("lx"), ln("cum_vocab").alias("ly")
    )
    mom = lncols.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
    )
    kd = F.col("k").cast(_D)
    beta = (
        kd * F.col("sxy").cast(_D) - F.col("sx").cast(_D) * F.col("sy").cast(_D)
    ) / (kd * F.col("sxx").cast(_D) - F.col("sx").cast(_D) * F.col("sx").cast(_D))
    fit = mom.select(F.round(beta, 6).alias("heaps_beta"))
    return (
        lncols.crossJoin(F.broadcast(fit))
        .select(
            F.col("b").alias("prefix_decile"),
            "cum_tokens",
            "cum_vocab",
            "heaps_beta",
        )
        .orderBy("prefix_decile")
    )


_SQL_HEAPS_LAW = rf"""
WITH ranked AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks,
         ROW_NUMBER() OVER (ORDER BY doc_id) AS rk,
         COUNT(*) OVER () AS nd
  FROM documents
), toks AS (
  SELECT CAST(ceil(rk * {_HEAPS_PREFIXES} / CAST(nd AS DOUBLE)) AS BIGINT) AS b,
         tok
  FROM ranked, UNNEST(toks) AS u(tok)
  WHERE tok <> ''
), tokens_per_b AS (
  SELECT b, COUNT(*) AS nt FROM toks GROUP BY 1
), first_b AS (
  SELECT tok, MIN(b) AS fb FROM toks GROUP BY 1
), vocab_per_b AS (
  SELECT fb, COUNT(*) AS nv FROM first_b GROUP BY 1
), frame AS (
  SELECT b,
         SUM(nt) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum_tokens,
         SUM(COALESCE(nv, 0)) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum_vocab
  FROM tokens_per_b LEFT JOIN vocab_per_b ON b = fb
), lncols AS (
  SELECT b, cum_tokens, cum_vocab,
         CAST(round(ln(CAST(cum_tokens AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lx,
         CAST(round(ln(CAST(cum_vocab AS DOUBLE)), 6) AS DECIMAL(18,6)) AS ly
  FROM frame
), mom AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS k,
         SUM(lx) AS sx, SUM(ly) AS sy,
         SUM(lx * lx) AS sxx, SUM(lx * ly) AS sxy
  FROM lncols
), fit AS (
  SELECT round((k * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (k * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
               6) AS heaps_beta
  FROM mom
)
SELECT b AS prefix_decile, cum_tokens, cum_vocab, heaps_beta
FROM lncols CROSS JOIN fit
ORDER BY prefix_decile
"""


# ---------------------------------------------------------------------------
# Cross-source near-dup contamination
# ---------------------------------------------------------------------------


def _q_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate contamination: md5-minhash near-dup pairs
    bucketed by the (unordered) source pair — the report that tells a
    data team WHERE its duplication comes from (within one crawl vs
    leaking between sources).  Reuses the full-oracle md5 minhash
    plane; two broadcast dimension joins + one tiny rollup."""
    from dbt_lab_spark.llm.dedup import minhash_dedup_pairs

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text"])
    src = scan(spark, cat, "documents", ["doc_id", "source"])
    pairs = minhash_dedup_pairs(
        docs, num_hashes=16, shingle_k=3, num_bands=4, threshold=0.7, base_hash="md5"
    )
    j = (
        pairs.join(
            src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa")),
            "id_a",
        )
        .join(
            src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb")),
            "id_b",
        )
    )
    return (
        j.select(
            F.least("sa", "sb").alias("source_1"),
            F.greatest("sa", "sb").alias("source_2"),
        )
        .groupBy("source_1", "source_2")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("cross_source", F.col("source_1") != F.col("source_2"))
        .orderBy("source_1", "source_2")
    )


def _sql_cross_source_dups() -> str:
    from dbt_lab_spark.workload_beyond import _sql_minhash_md5_ctes

    return f"""
WITH {_sql_minhash_md5_ctes()},
pairs AS (
  SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.7
), j AS (
  SELECT LEAST(da.source, db.source) AS source_1,
         GREATEST(da.source, db.source) AS source_2
  FROM pairs
  JOIN documents da ON pairs.id_a = da.doc_id
  JOIN documents db ON pairs.id_b = db.doc_id
)
SELECT source_1, source_2, COUNT(*) AS n_pairs,
       source_1 <> source_2 AS cross_source
FROM j GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# Bowley quartile skewness per event type
# ---------------------------------------------------------------------------


def _q_bowley_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley (quartile) skewness per event type:
    (Q3 + Q1 - 2*Q2)/(Q3 - Q1) on the exact discrete quartiles (rank
    rules, never float p*n) — the outlier-robust skewness beside
    q_higher_moments' moment-based one.  Numerator and denominator are
    exact integers; one double division."""
    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["event_type", "value"]).select(
        "event_type", (money("value") * 100).cast("long").alias("x")
    )
    wr = Window.partitionBy("event_type").orderBy("x")
    numbered = ev.select("event_type", "x", F.row_number().over(wr).alias("rn"))
    counts = numbered.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    j = numbered.join(counts, "event_type")
    q1r = F.greatest(F.lit(1), F.floor((F.col("n") + 1) / 4).cast("long"))
    q2r = F.floor((F.col("n") + 1) / 2).cast("long")
    q3r = F.least(F.col("n"), F.floor(3 * (F.col("n") + 1) / 4).cast("long"))
    q1 = j.filter(F.col("rn") == q1r).select("event_type", F.col("x").alias("q1"))
    q2 = j.filter(F.col("rn") == q2r).select("event_type", F.col("x").alias("q2"))
    q3 = j.filter(F.col("rn") == q3r).select("event_type", F.col("x").alias("q3"))
    f = q1.join(q2, "event_type").join(q3, "event_type")
    # Degenerate IQR (q3 == q1, constant distribution between the
    # quartiles) is an explicit NULL refusal in BOTH engines — Spark
    # doubles would yield NaN/Inf where DuckDB may differ (ADVICE r4).
    skew = F.when(
        F.col("q3") != F.col("q1"),
        (F.col("q3") + F.col("q1") - 2 * F.col("q2")).cast(_D)
        / (F.col("q3") - F.col("q1")).cast(_D),
    )
    return f.select(
        "event_type",
        (F.col("q1") / 100.0).alias("q1"),
        (F.col("q2") / 100.0).alias("median"),
        (F.col("q3") / 100.0).alias("q3"),
        F.round(skew, 6).alias("bowley_skew"),
    ).orderBy("event_type")


_SQL_BOWLEY_SKEW = """
WITH ev AS (
  SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
  FROM events
), numbered AS (
  SELECT event_type, x,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM ev
), q AS (
  SELECT event_type,
         MAX(CASE WHEN rn = GREATEST(1, (n + 1) // 4) THEN x END) AS q1,
         MAX(CASE WHEN rn = (n + 1) // 2 THEN x END) AS q2,
         MAX(CASE WHEN rn = LEAST(n, (3 * (n + 1)) // 4) THEN x END) AS q3
  FROM numbered GROUP BY 1
)
SELECT event_type,
       q1 / 100.0 AS q1, q2 / 100.0 AS median, q3 / 100.0 AS q3,
       round(CASE WHEN q3 <> q1
                  THEN CAST(q3 + q1 - 2 * q2 AS DOUBLE) / CAST(q3 - q1 AS DOUBLE)
             END, 6)
         AS bowley_skew
FROM q ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Two-proportion z-test: weekend vs weekday purchase rate
# ---------------------------------------------------------------------------


def _q_two_prop_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: does the purchase share of events differ
    between weekend and weekday?  Counts are exact integers (day-of-week
    from the epoch-day modulo — engine-identical, no locale-dependent
    date function); the pooled z statistic is one double formula."""
    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["ts", "event_type"])
    # epoch day 0 = Thursday; (d + 4) % 7 in 0..6 with 0=Sunday, 6=Saturday
    d = F.floor(F.unix_millis(F.col("ts")) / F.lit(86400000.0)).cast("long")
    dow = (d + 4) % 7
    grp = ev.select(
        ((dow == 0) | (dow == 6)).alias("weekend"),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    agg = grp.groupBy("weekend").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("k")
    )
    piv = agg.agg(
        F.max(F.when(F.col("weekend"), F.col("n"))).alias("n1"),
        F.max(F.when(F.col("weekend"), F.col("k"))).alias("k1"),
        F.max(F.when(~F.col("weekend"), F.col("n"))).alias("n2"),
        F.max(F.when(~F.col("weekend"), F.col("k"))).alias("k2"),
    )
    n1, k1 = F.col("n1").cast(_D), F.col("k1").cast(_D)
    n2, k2 = F.col("n2").cast(_D), F.col("k2").cast(_D)
    p1, p2 = k1 / n1, k2 / n2
    pp = (k1 + k2) / (n1 + n2)
    z = (p1 - p2) / F.sqrt(pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n2))
    return piv.select(
        F.col("n1").cast("bigint").alias("n_weekend"),
        F.col("k1").cast("bigint").alias("k_weekend"),
        F.col("n2").cast("bigint").alias("n_weekday"),
        F.col("k2").cast("bigint").alias("k_weekday"),
        F.round(p1 - p2, 6).alias("rate_diff"),
        F.round(z, 4).alias("z_stat"),
    )


_SQL_TWO_PROP_Z = """
WITH grp AS (
  SELECT ((CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) + 4) % 7) IN (0, 6)
           AS weekend,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
), agg AS (
  SELECT weekend, COUNT(*) AS n, SUM(y) AS k FROM grp GROUP BY 1
), piv AS (
  SELECT MAX(CASE WHEN weekend THEN n END) AS n1,
         MAX(CASE WHEN weekend THEN k END) AS k1,
         MAX(CASE WHEN NOT weekend THEN n END) AS n2,
         MAX(CASE WHEN NOT weekend THEN k END) AS k2
  FROM agg
)
SELECT CAST(n1 AS BIGINT) AS n_weekend, CAST(k1 AS BIGINT) AS k_weekend,
       CAST(n2 AS BIGINT) AS n_weekday, CAST(k2 AS BIGINT) AS k_weekday,
       round(CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             - CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS rate_diff,
       round((CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)
              - CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE))
             / sqrt((CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                    * (1.0 - CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                    * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))), 4)
         AS z_stat
FROM piv
"""


# ---------------------------------------------------------------------------
# Odds ratio with Woolf CI
# ---------------------------------------------------------------------------


def _q_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio of purchasing given a view on the same day (per-user
    daily 2x2: exposed = viewed) with the Woolf log-OR confidence
    interval: all four cells are exact integers; the Haldane-Anscombe
    +0.5 correction (standard for zero cells) keeps the estimate
    defined on sparse tables; ln(OR) and the CI are double formulas
    with the frozen 1.96 constant."""
    cat = Catalog(sf_dir)
    ev = scan(
        spark, cat, "events", ["user_id", "ts", "event_type"],
        predicates=[F.col("event_type").isin("view", "purchase")],
    )
    ud = ev.groupBy(
        "user_id",
        F.floor(F.unix_millis(F.col("ts")) / F.lit(86400000.0)).cast("long").alias("d"),
    ).agg(
        F.max((F.col("event_type") == "view").cast("int")).alias("e"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("y"),
    )
    cells = ud.agg(
        F.sum(((F.col("e") == 1) & (F.col("y") == 1)).cast("long")).alias("a"),
        F.sum(((F.col("e") == 1) & (F.col("y") == 0)).cast("long")).alias("b"),
        F.sum(((F.col("e") == 0) & (F.col("y") == 1)).cast("long")).alias("c"),
        F.sum(((F.col("e") == 0) & (F.col("y") == 0)).cast("long")).alias("dd"),
    )
    a = F.col("a").cast(_D) + 0.5
    b = F.col("b").cast(_D) + 0.5
    c = F.col("c").cast(_D) + 0.5
    dd = F.col("dd").cast(_D) + 0.5
    orr = (a * dd) / (b * c)
    se = F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / dd)
    lor = F.log(orr)
    return cells.select(
        "a", "b", "c", F.col("dd").alias("d"),
        F.round(orr, 6).alias("odds_ratio"),
        F.round(lor - 1.96 * se, 6).alias("log_or_lo"),
        F.round(lor + 1.96 * se, 6).alias("log_or_hi"),
    )


_SQL_ODDS_RATIO = """
WITH ud AS (
  SELECT user_id, CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS day,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS e,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1, 2
), cells AS (
  SELECT SUM(CASE WHEN e = 1 AND y = 1 THEN 1 ELSE 0 END) AS a,
         SUM(CASE WHEN e = 1 AND y = 0 THEN 1 ELSE 0 END) AS b,
         SUM(CASE WHEN e = 0 AND y = 1 THEN 1 ELSE 0 END) AS c,
         SUM(CASE WHEN e = 0 AND y = 0 THEN 1 ELSE 0 END) AS dd
  FROM ud
)
SELECT a, b, c, dd AS d,
       round(((CAST(a AS DOUBLE) + 0.5) * (CAST(dd AS DOUBLE) + 0.5))
             / ((CAST(b AS DOUBLE) + 0.5) * (CAST(c AS DOUBLE) + 0.5)), 6) AS odds_ratio,
       round(ln(((CAST(a AS DOUBLE) + 0.5) * (CAST(dd AS DOUBLE) + 0.5))
                / ((CAST(b AS DOUBLE) + 0.5) * (CAST(c AS DOUBLE) + 0.5)))
             - 1.96 * sqrt(1.0 / (CAST(a AS DOUBLE) + 0.5) + 1.0 / (CAST(b AS DOUBLE) + 0.5)
                           + 1.0 / (CAST(c AS DOUBLE) + 0.5) + 1.0 / (CAST(dd AS DOUBLE) + 0.5)), 6)
         AS log_or_lo,
       round(ln(((CAST(a AS DOUBLE) + 0.5) * (CAST(dd AS DOUBLE) + 0.5))
                / ((CAST(b AS DOUBLE) + 0.5) * (CAST(c AS DOUBLE) + 0.5)))
             + 1.96 * sqrt(1.0 / (CAST(a AS DOUBLE) + 0.5) + 1.0 / (CAST(b AS DOUBLE) + 0.5)
                           + 1.0 / (CAST(c AS DOUBLE) + 0.5) + 1.0 / (CAST(dd AS DOUBLE) + 0.5)), 6)
         AS log_or_hi
FROM cells
"""


# ---------------------------------------------------------------------------
# Cramer's V association strength
# ---------------------------------------------------------------------------


def _q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V for the (event_type x day-of-week) contingency table —
    the normalized effect size the chi-square test (q_chi2) should ship
    with.  Cell and margin counts are exact integers; chi2 accumulates
    per-cell round-6 decimal terms (order-free); V is one sqrt."""
    cat = Catalog(sf_dir)
    ev = scan(spark, cat, "events", ["ts", "event_type"])
    d = F.floor(F.unix_millis(F.col("ts")) / F.lit(86400000.0)).cast("long")
    cells = ev.select("event_type", ((d + 4) % 7).alias("dow")).groupBy(
        "event_type", "dow"
    ).agg(F.count(F.lit(1)).alias("o"))
    rows_ = cells.groupBy("event_type").agg(F.sum("o").alias("rm"))
    cols_ = cells.groupBy("dow").agg(F.sum("o").alias("cm"))
    tot = cells.agg(F.sum("o").alias("n")).collect()[0]["n"]
    if not tot:
        raise ValueError("Cramer's V needs a non-empty events table")
    term = F.round(
        F.pow(
            F.col("o").cast(_D) - F.col("rm").cast(_D) * F.col("cm").cast(_D) / F.lit(float(tot)),
            F.lit(2.0),
        )
        / (F.col("rm").cast(_D) * F.col("cm").cast(_D) / F.lit(float(tot))),
        6,
    ).cast("decimal(18,6)")
    joined = cells.join(F.broadcast(rows_), "event_type").join(F.broadcast(cols_), "dow")
    chi = joined.select(term.alias("t")).agg(F.sum("t").alias("chi_dec"))
    r = rows_.count()
    c = cols_.count()
    k = float(min(r - 1, c - 1))
    return chi.select(
        F.lit(tot).cast("bigint").alias("n"),
        F.lit(r).cast("int").alias("n_rows"),
        F.lit(c).cast("int").alias("n_cols"),
        F.round(F.col("chi_dec").cast(_D), 4).alias("chi2"),
        F.round(F.sqrt(F.col("chi_dec").cast(_D) / (F.lit(float(tot)) * F.lit(k))), 6).alias(
            "cramers_v"
        ),
    )


_SQL_CRAMERS_V = """
WITH cells AS (
  SELECT event_type,
         (CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) + 4) % 7 AS dow,
         COUNT(*) AS o
  FROM events GROUP BY 1, 2
), rows_ AS (
  SELECT event_type, SUM(o) AS rm FROM cells GROUP BY 1
), cols_ AS (
  SELECT dow, SUM(o) AS cm FROM cells GROUP BY 1
), tot AS (
  SELECT SUM(o) AS n FROM cells
), terms AS (
  SELECT CAST(round(pow(CAST(o AS DOUBLE)
                        - CAST(rm AS DOUBLE) * CAST(cm AS DOUBLE) / CAST(n AS DOUBLE), 2.0)
                    / (CAST(rm AS DOUBLE) * CAST(cm AS DOUBLE) / CAST(n AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS t
  FROM cells
  JOIN rows_ USING (event_type)
  JOIN cols_ USING (dow)
  CROSS JOIN tot
), dims AS (
  SELECT (SELECT COUNT(*) FROM rows_) AS r,
         (SELECT COUNT(*) FROM cols_) AS c,
         (SELECT n FROM tot) AS n
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(r AS INT) AS n_rows,
       CAST(c AS INT) AS n_cols,
       round(CAST((SELECT SUM(t) FROM terms) AS DOUBLE), 4) AS chi2,
       round(sqrt(CAST((SELECT SUM(t) FROM terms) AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(LEAST(r - 1, c - 1) AS DOUBLE))), 6)
         AS cramers_v
FROM dims
"""


# ---------------------------------------------------------------------------
# Youden J optimal threshold over score deciles
# ---------------------------------------------------------------------------

_YJ_BINS = 10


def _q_youden_j(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Youden J threshold selection: over acctbal-decile score cuts,
    the cut maximizing sensitivity + specificity - 1 for predicting
    "customer placed an URGENT order" — the operating-point companion
    to q_auc_eval.  The argmax is decided on the EXACT integer
    cross-multiplication tp*Nneg - fp*Npos (never a float J), ties to
    the lower cut; reported J values are single divisions."""
    cat = Catalog(sf_dir)
    cust = scan(spark, cat, "customer", ["c_custkey", "c_acctbal"])
    orders = scan(spark, cat, "orders", ["o_custkey", "o_orderpriority"])
    urgent = orders.groupBy("o_custkey").agg(
        F.max((F.col("o_orderpriority") == "1-URGENT").cast("int")).alias("y")
    )
    base = cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left").select(
        (money("c_acctbal") * 100).cast("long").alias("bal"),
        F.coalesce("y", F.lit(0)).alias("y"),
    )
    # (bal, y) ordering makes the decile split deterministic under
    # equal balances (the per-bin totals are then tie-invariant).
    w = Window.orderBy("bal", "y")
    n_tot = base.agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
    if not n_tot:
        raise ValueError("youden J needs a non-empty customer table")
    binned = base.select(
        "y", F.row_number().over(w).alias("rn")
    ).select("y", ((F.col("rn") - 1) * _YJ_BINS / F.lit(n_tot)).cast("long").alias("b"))
    per = binned.groupBy("b").agg(
        F.count(F.lit(1)).alias("nb"), F.sum("y").alias("pb")
    )
    tot = per.agg(F.sum("nb").alias("n"), F.sum("pb").alias("pos")).collect()[0]
    npos, nneg = int(tot["pos"] or 0), int((tot["n"] or 0) - (tot["pos"] or 0))
    if npos == 0 or nneg == 0:
        raise ValueError(
            "youden J is undefined with a degenerate label distribution "
            "(no positives or no negatives)"
        )
    wc = Window.orderBy(F.desc("b")).rowsBetween(Window.unboundedPreceding, 0)
    # predicting positive for bins >= cut b: tp = positives in b..9
    cuts = per.select(
        "b",
        F.sum("pb").over(wc).alias("tp"),
        (F.sum("nb").over(wc) - F.sum("pb").over(wc)).alias("fp"),
    )
    scored = cuts.select(
        "b",
        "tp",
        "fp",
        (F.col("tp") * nneg - F.col("fp") * npos).alias("cross"),
    )
    top = scored.orderBy(F.desc("cross"), "b").limit(1)
    return top.select(
        F.col("b").alias("best_cut_decile"),
        "tp",
        "fp",
        F.round(F.col("tp").cast(_D) / float(npos), 6).alias("sensitivity"),
        F.round(1.0 - F.col("fp").cast(_D) / float(nneg), 6).alias("specificity"),
        F.round(
            F.col("tp").cast(_D) / float(npos) - F.col("fp").cast(_D) / float(nneg), 6
        ).alias("youden_j"),
    )


_SQL_YOUDEN_J = f"""
WITH urgent AS (
  SELECT o_custkey, MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS y
  FROM orders GROUP BY 1
), base AS (
  SELECT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal,
         COALESCE(y, 0) AS y
  FROM customer LEFT JOIN urgent ON c_custkey = o_custkey
), binned AS (
  SELECT y,
         (ROW_NUMBER() OVER (ORDER BY bal, y) - 1) * {_YJ_BINS}
           // COUNT(*) OVER () AS b
  FROM base
), per AS (
  SELECT b, COUNT(*) AS nb, SUM(y) AS pb FROM binned GROUP BY 1
), tot AS (
  SELECT SUM(nb) AS n, SUM(pb) AS pos FROM per
), cuts AS (
  SELECT b,
         SUM(pb) OVER (ORDER BY b DESC ROWS UNBOUNDED PRECEDING) AS tp,
         SUM(nb) OVER (ORDER BY b DESC ROWS UNBOUNDED PRECEDING)
           - SUM(pb) OVER (ORDER BY b DESC ROWS UNBOUNDED PRECEDING) AS fp
  FROM per
), scored AS (
  SELECT b, tp, fp,
         tp * (SELECT n - pos FROM tot) - fp * (SELECT pos FROM tot) AS crossm
  FROM cuts
), top AS (
  SELECT * FROM scored ORDER BY crossm DESC, b LIMIT 1
)
SELECT b AS best_cut_decile, tp, fp,
       round(CAST(tp AS DOUBLE) / CAST((SELECT pos FROM tot) AS DOUBLE), 6)
         AS sensitivity,
       round(1.0 - CAST(fp AS DOUBLE) / CAST((SELECT n - pos FROM tot) AS DOUBLE), 6)
         AS specificity,
       round(CAST(tp AS DOUBLE) / CAST((SELECT pos FROM tot) AS DOUBLE)
             - CAST(fp AS DOUBLE) / CAST((SELECT n - pos FROM tot) AS DOUBLE), 6)
         AS youden_j
FROM top
"""


STATS_QUERIES: list[QueryDef] = [
    QueryDef(
        "q_mann_whitney", _q_mann_whitney, _SQL_MANN_WHITNEY,
        "tie-corrected Mann-Whitney U (integer-rational)",
    ),
    QueryDef(
        "q_bh_fdr", _q_bh_fdr, _SQL_BH_FDR,
        "Benjamini-Hochberg step-up over Chebyshev p-values",
    ),
    QueryDef(
        "q_link_pred", _q_link_pred, _SQL_LINK_PRED,
        "resource-allocation link prediction (frozen 1/deg)",
    ),
    QueryDef(
        "q_mutual_info", _q_mutual_info, _SQL_MUTUAL_INFO,
        "nation x priority mutual information (frozen-ln)",
    ),
    QueryDef(
        "q_isotonic", _q_isotonic, _SQL_ISOTONIC,
        "weighted isotonic fit via the minimax identity",
    ),
    QueryDef(
        "q_woe_iv", _q_woe_iv, _SQL_WOE_IV,
        "WOE bins + information value (frozen-ln, exact IV sum)",
    ),
    QueryDef(
        "q_hits", _q_hits, _SQL_HITS,
        "HITS hubs/authorities, 2 exact-integer iterations",
    ),
    QueryDef(
        "q_cuped", _q_cuped, _SQL_CUPED,
        "CUPED variance-reduced A/B means (no-RNG arms)",
    ),
    QueryDef(
        "q_did", _q_did, _SQL_DID,
        "2x2 difference-in-differences over a no-RNG customer split",
    ),
    QueryDef(
        "q_weighted_median", _q_weighted_median, _SQL_WEIGHTED_MEDIAN,
        "exact weighted median via cumulative-weight scan",
    ),
    QueryDef(
        "q_conformal", _q_conformal, _SQL_CONFORMAL,
        "split-conformal 90% interval with holdout coverage",
    ),
    QueryDef(
        "q_kcore", _q_kcore, _sql_kcore(),
        "3-core membership via 3 unrolled peel rounds",
    ),
    QueryDef(
        "q_qq_plot", _q_qq_plot, _SQL_QQ_PLOT,
        "Q-Q vigintile ladder on the compressed value domain",
    ),
    QueryDef(
        "q_split_gain", _q_split_gain, _SQL_SPLIT_GAIN,
        "histogram best-split gain (GBDT inner loop), exact gradients",
    ),
    QueryDef(
        "q_elasticity", _q_elasticity, _SQL_ELASTICITY,
        "grouped log-log elasticity, 25 regressions in one pass",
    ),
    QueryDef(
        "q_hte_segments", _q_hte_segments, _SQL_HTE_SEGMENTS,
        "heterogeneous uplift by acctbal quintile",
    ),
    QueryDef(
        "q_tost", _q_tost, _SQL_TOST,
        "TOST equivalence test (two one-sided Welch t's)",
    ),
    QueryDef(
        "q_permutation_test", _q_permutation_test, _SQL_PERMUTATION_TEST,
        "md5 sign-flip permutation test, exact integer stats",
    ),
    QueryDef(
        "q_mde_power", _q_mde_power, _SQL_MDE_POWER,
        "MDE / power planning per event type",
    ),
    QueryDef(
        "q_winsorized_stats", _q_winsorized_stats, _SQL_WINSORIZED_STATS,
        "winsorized moments at exact discrete P5/P95",
    ),
    QueryDef(
        "q_gbm_round", _q_gbm_round, _SQL_GBM_ROUND,
        "one full GBDT round: stump + shrinkage + loss audit",
    ),
    QueryDef(
        "q_median_polish", _q_median_polish, _sql_median_polish(),
        "Tukey median polish, 2 exact-decimal iterations",
    ),
    QueryDef(
        "q_wasserstein", _q_wasserstein, _SQL_WASSERSTEIN,
        "exact 1-Wasserstein distance (integer numerator)",
    ),
    QueryDef(
        "q_kendall_tau", _q_kendall_tau, _SQL_KENDALL_TAU,
        "Kendall tau-b via the compressed contingency table",
    ),
    QueryDef(
        "q_hill_tail", _q_hill_tail, _SQL_HILL_TAIL,
        "Hill heavy-tail index at the exact P90 cut",
    ),
    QueryDef(
        "q_skew_audit", _q_skew_audit, _SQL_SKEW_AUDIT,
        "partition-skew audit on md5 buckets",
    ),
    QueryDef(
        "q_zipf_fit", _q_zipf_fit, _SQL_ZIPF_FIT,
        "Zipf exponent of the token distribution",
    ),
    QueryDef(
        "q_dispersion", _q_dispersion, _SQL_DISPERSION,
        "negative-binomial overdispersion by event type",
    ),
    QueryDef(
        "q_cronbach", _q_cronbach, _SQL_CRONBACH,
        "Cronbach's alpha over event-type items",
    ),
    QueryDef(
        "q_mmd", _q_mmd, _SQL_MMD,
        "moment-expanded quadratic-kernel MMD^2",
    ),
    QueryDef(
        "q_cmh_test", _q_cmh_test, _SQL_CMH_TEST,
        "Cochran-Mantel-Haenszel stratified 2x2 test",
    ),
    QueryDef(
        "q_ndcg", _q_ndcg, _SQL_NDCG,
        "NDCG@100 with frozen log2 discounts",
    ),
    QueryDef(
        "q_evt_gumbel", _q_evt_gumbel, _SQL_EVT_GUMBEL,
        "Gumbel EVT fit on daily maxima",
    ),
    QueryDef(
        "q_var_es", _q_var_es, _SQL_VAR_ES,
        "VaR95 + expected shortfall with exact boundary multiplicity",
    ),
    QueryDef(
        "q_eb_shrinkage", _q_eb_shrinkage, _SQL_EB_SHRINKAGE,
        "empirical-Bayes beta-binomial rate shrinkage",
    ),
    QueryDef(
        "q_price_index", _q_price_index, _SQL_PRICE_INDEX,
        "Laspeyres/Paasche/Fisher price indexes",
    ),
    QueryDef(
        "q_dbscan_core", _q_dbscan_core, _SQL_DBSCAN_CORE,
        "grid-DBSCAN core/border/noise classification",
    ),
    QueryDef(
        "q_srm_check", _q_srm_check, _SQL_SRM_CHECK,
        "sample-ratio-mismatch chi-square check",
    ),
    QueryDef(
        "q_graph_stats", _q_graph_stats, _sql_graph_stats(),
        "directed-graph health card (reciprocity, density, degrees)",
    ),
    QueryDef(
        "q_higher_moments", _q_higher_moments, _SQL_HIGHER_MOMENTS,
        "exact skewness / excess kurtosis from raw power sums",
    ),
    QueryDef(
        "q_ecod_outliers", _q_ecod_outliers, _SQL_ECOD_OUTLIERS,
        "ECOD-style exact-ECDF tail outliers, top-10",
    ),
    QueryDef(
        "q_shapley_r2", _q_shapley_r2, _SQL_SHAPLEY_R2,
        "exact Shapley decomposition of 2-feature R^2",
    ),
    QueryDef(
        "q_ratio_delta", _q_ratio_delta, _SQL_RATIO_DELTA,
        "delta-method CI for a ratio-of-means metric",
    ),
    QueryDef(
        "q_partial_corr", _q_partial_corr, _SQL_PARTIAL_CORR,
        "partial correlation controlling for order count",
    ),
    QueryDef(
        "q_burrows_delta", _q_burrows_delta, _SQL_BURROWS_DELTA,
        "Burrows' Delta stylometric source distance",
    ),
    QueryDef(
        "q_breusch_pagan", _q_breusch_pagan, _SQL_BREUSCH_PAGAN,
        "Breusch-Pagan LM test with frozen-fit integer residuals",
    ),
    QueryDef(
        "q_cooks_distance", _q_cooks_distance, _SQL_COOKS_DISTANCE,
        "top-10 influence by Cook's distance",
    ),
    QueryDef(
        "q_jarque_bera", _q_jarque_bera, _SQL_JARQUE_BERA,
        "Jarque-Bera normality test from exact power sums",
    ),
    QueryDef(
        "q_theil_index", _q_theil_index, _SQL_THEIL_INDEX,
        "Theil T inequality on the compressed spend domain",
    ),
    QueryDef(
        "q_kruskal_wallis", _q_kruskal_wallis, _SQL_KRUSKAL_WALLIS,
        "Kruskal-Wallis H with exact doubled ranks and tie correction",
    ),
    QueryDef(
        "q_mcnemar", _q_mcnemar, _SQL_MCNEMAR,
        "McNemar paired-proportions test",
    ),
    QueryDef(
        "q_gains_chart", _q_gains_chart, _SQL_GAINS_CHART,
        "cumulative gains / lift by score decile",
    ),
    QueryDef("q_mrr", _q_mrr, _SQL_MRR, "mean reciprocal rank per nation-query"),
    QueryDef(
        "q_adamic_adar", _q_adamic_adar, _sql_adamic_adar(),
        "Adamic-Adar link prediction top-20",
    ),
    QueryDef(
        "q_js_divergence", _q_js_divergence, _SQL_JS_DIVERGENCE,
        "pairwise Jensen-Shannon divergence between sources",
    ),
    QueryDef("q_friedman", _q_friedman, _SQL_FRIEDMAN, "Friedman blocked rank test"),
    QueryDef(
        "q_levene_bf", _q_levene_bf, _SQL_LEVENE_BF,
        "Brown-Forsythe variance homogeneity",
    ),
    QueryDef("q_grubbs", _q_grubbs, _SQL_GRUBBS, "Grubbs max studentized deviate"),
    QueryDef("q_vif", _q_vif, _SQL_VIF, "variance inflation factors"),
    QueryDef(
        "q_quantile_bucketing", _q_quantile_bucketing, _SQL_QUANTILE_BUCKETING,
        "equi-depth rank binning",
    ),
    QueryDef(
        "q_target_encoding", _q_target_encoding, _SQL_TARGET_ENCODING,
        "K-fold out-of-fold target encoding",
    ),
    QueryDef("q_type_token", _q_type_token, _SQL_TYPE_TOKEN, "lexical diversity per source"),
    QueryDef("q_flesch", _q_flesch, _SQL_FLESCH, "Flesch reading ease per source"),
    QueryDef("q_cohens_d", _q_cohens_d, _SQL_COHENS_D, "Cohen's d effect size"),
    QueryDef(
        "q_brier_score", _q_brier_score, _SQL_BRIER_SCORE,
        "Brier score with Murphy decomposition",
    ),
    QueryDef(
        "q_silhouette", _q_silhouette, _sql_silhouette(),
        "simplified silhouette of seeded clusters",
    ),
    QueryDef(
        "q_dup_cluster_sizes", _q_dup_cluster_sizes, _sql_dup_cluster_sizes(),
        "near-dup cluster size histogram",
    ),
    QueryDef(
        "q_containment", _q_containment, _SQL_CONTAINMENT,
        "asymmetric shingle containment pairs",
    ),
    QueryDef(
        "q_ngram_novelty", _q_ngram_novelty, _SQL_NGRAM_NOVELTY,
        "first-occurrence shingle novelty per source",
    ),
    QueryDef("q_nzv_audit", _q_nzv_audit, _sql_nzv_audit(), "near-zero-variance screen"),
    QueryDef("q_hhi", _q_hhi, _SQL_HHI, "Herfindahl market concentration"),
    QueryDef(
        "q_iqr_outliers", _q_iqr_outliers, _SQL_IQR_OUTLIERS,
        "Tukey IQR fences, integer arithmetic",
    ),
    QueryDef(
        "q_lang_confusion", _q_lang_confusion, _SQL_LANG_CONFUSION,
        "declared-vs-predicted language confusion",
    ),
    QueryDef(
        "q_length_profile", _q_length_profile, _SQL_LENGTH_PROFILE,
        "doc-length percentiles per source",
    ),
    QueryDef("q_heaps_law", _q_heaps_law, _SQL_HEAPS_LAW, "Heaps vocabulary-growth fit"),
    QueryDef(
        "q_cross_source_dups", _q_cross_source_dups, _sql_cross_source_dups(),
        "cross-source near-dup contamination",
    ),
    QueryDef("q_bowley_skew", _q_bowley_skew, _SQL_BOWLEY_SKEW, "quartile skewness"),
    QueryDef("q_two_prop_z", _q_two_prop_z, _SQL_TWO_PROP_Z, "two-proportion z-test"),
    QueryDef("q_odds_ratio", _q_odds_ratio, _SQL_ODDS_RATIO, "odds ratio with Woolf CI"),
    QueryDef("q_cramers_v", _q_cramers_v, _SQL_CRAMERS_V, "Cramer's V association"),
    QueryDef("q_youden_j", _q_youden_j, _SQL_YOUDEN_J, "Youden J threshold selection"),
]
