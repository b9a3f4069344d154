"""Pin tests for the session-8 wave-C operators: ECOD outliers,
Shapley R^2 decomposition, and the delta-method ratio CI — each
against an independent brute-force Python/NumPy reference computed
straight from the parquet inputs, on top of the generic oracle-parity
gate."""

from __future__ import annotations

import math
from collections import defaultdict

import duckdb
import numpy as np

from dbt_lab_spark.workload_stats import (
    _q_ecod_outliers,
    _q_ratio_delta,
    _q_shapley_r2,
)


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    try:
        return con.sql(sql.replace("$SF", sf_dir)).fetchall()
    finally:
        con.close()


def test_ecod_outliers_match_bruteforce(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT), "
        "COALESCE(k, 0) FROM '$SF/customer.parquet' "
        "LEFT JOIN (SELECT o_custkey, COUNT(*) AS k FROM '$SF/orders.parquet' "
        "GROUP BY 1) o ON c_custkey = o_custkey",
    )
    n = len(rows)
    x1 = np.array([a for _, a, _ in rows])
    x2 = np.array([b for _, _, b in rows])

    from decimal import ROUND_HALF_UP, Decimal

    def scores(xs):
        le = np.array([(xs <= v).sum() for v in xs])
        ge = np.array([(xs >= v).sum() for v in xs])
        # keep each frozen term as Decimal: the engines sum DECIMALS
        # exactly, so a float sum can flip ties at the last place
        return [
            Decimal(repr(-math.log(min(l, g) / n))).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
            for l, g in zip(le, ge)
        ]

    s1, s2 = scores(x1), scores(x2)
    tot = [a + b for a, b in zip(s1, s2)]
    order = sorted(range(n), key=lambda i: (-tot[i], rows[i][0]))[:10]
    got = _q_ecod_outliers(spark, sf_small).collect()
    assert len(got) == 10
    for rank, (r, i) in enumerate(zip(got, order), start=1):
        assert r["rank"] == rank
        assert r["c_custkey"] == rows[i][0]
        assert abs(r["ecod_score"] - float(tot[i])) < 1e-6
        assert r["acctbal"] == rows[i][1] / 100.0
        assert r["n_orders"] == rows[i][2]
    # scores decrease down the ranking
    ss = [r["ecod_score"] for r in got]
    assert ss == sorted(ss, reverse=True)


def test_shapley_r2_matches_numpy(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT), "
        "COALESCE(k, 0), COALESCE(y, 0) FROM '$SF/customer.parquet' "
        "LEFT JOIN (SELECT o_custkey, COUNT(*) AS k, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y "
        "FROM '$SF/orders.parquet' GROUP BY 1) o ON c_custkey = o_custkey",
    )
    a = np.array([r[0] for r in rows], dtype=np.float64)
    b = np.array([r[1] for r in rows], dtype=np.float64)
    y = np.array([r[2] for r in rows], dtype=np.float64)

    def r2(X):
        X = np.column_stack([np.ones(len(y))] + X)
        beta, *_ = np.linalg.lstsq(X, y, rcond=None)
        resid = y - X @ beta
        return 1.0 - (resid**2).sum() / ((y - y.mean()) ** 2).sum()

    r2a, r2b, r2f = r2([a]), r2([b]), r2([a, b])
    got = _q_shapley_r2(spark, sf_small).collect()[0]
    assert got["n_customers"] == len(rows)
    assert abs(got["r2_acctbal"] - r2a) < 1e-5
    assert abs(got["r2_orders"] - r2b) < 1e-5
    assert abs(got["r2_full"] - r2f) < 1e-5
    assert abs(got["shapley_acctbal"] - (r2a + r2f - r2b) / 2) < 1e-5
    assert abs(got["shapley_orders"] - (r2b + r2f - r2a) / 2) < 1e-5
    # efficiency axiom: the attributions sum to the full R^2
    assert abs(got["shapley_acctbal"] + got["shapley_orders"] - got["r2_full"]) < 1e-5


def test_ratio_delta_matches_numpy(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT user_id, "
        "CAST(COALESCE(SUM(CASE WHEN event_type='purchase' "
        "  THEN CAST(value AS DECIMAL(18,2)) END), 0) * 100 AS BIGINT), "
        "SUM(CASE WHEN event_type='view' THEN 1 ELSE 0 END) "
        "FROM '$SF/events.parquet' WHERE event_type IN ('view','purchase') "
        "GROUP BY 1",
    )
    x = np.array([r[1] for r in rows], dtype=np.float64)
    y = np.array([r[2] for r in rows], dtype=np.float64)
    n = len(x)
    r = x.sum() / y.sum()
    vxx = x.var(ddof=1)
    vyy = y.var(ddof=1)
    vxy = ((x - x.mean()) * (y - y.mean())).sum() / (n - 1)
    se = math.sqrt((vxx - 2 * r * vxy + r * r * vyy) / n) / y.mean()
    got = _q_ratio_delta(spark, sf_small).collect()[0]
    assert got["n_users"] == n
    assert abs(got["ratio"] - r / 100.0) < 1e-6
    assert abs(got["se"] - se / 100.0) < 1e-6
    assert abs(got["ci_lo"] - (r - 1.959964 * se) / 100.0) < 1e-5
    assert abs(got["ci_hi"] - (r + 1.959964 * se) / 100.0) < 1e-5
    assert got["ci_lo"] < got["ratio"] < got["ci_hi"]
