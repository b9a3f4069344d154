"""Pin tests for the session-8 operators: Granger causality, VaR/ES,
empirical-Bayes shrinkage, price indexes, and DAU/WAU stickiness —
each against an independent brute-force Python/NumPy reference
computed straight from the parquet inputs, on top of the generic
oracle-parity gate."""

from __future__ import annotations

import math
from collections import defaultdict
from decimal import Decimal

import duckdb
import numpy as np

from dbt_lab_spark.workload_stats import (
    _q_eb_shrinkage,
    _q_price_index,
    _q_var_es,
)
from dbt_lab_spark.workload_timeseries import _q_dau_wau, _q_granger


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    try:
        return con.sql(sql.replace("$SF", sf_dir)).fetchall()
    finally:
        con.close()


def test_granger_matches_numpy_lstsq(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT CAST(ts AS DATE) AS d, "
        "SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END), "
        "SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) "
        "FROM '$SF/events.parquet' WHERE event_type IN ('view','purchase') "
        "GROUP BY 1 ORDER BY 1",
    )
    y = np.array([r[1] for r in rows], dtype=np.float64)
    x = np.array([r[2] for r in rows], dtype=np.float64)
    yt, y1, x1 = y[1:], y[:-1], x[:-1]
    n = len(yt)
    Xr = np.column_stack([np.ones(n), y1])
    Xu = np.column_stack([np.ones(n), y1, x1])
    br, *_ = np.linalg.lstsq(Xr, yt, rcond=None)
    bu, *_ = np.linalg.lstsq(Xu, yt, rcond=None)
    rss_r = float(((yt - Xr @ br) ** 2).sum())
    rss_u = float(((yt - Xu @ bu) ** 2).sum())
    f = (rss_r - rss_u) / (rss_u / (n - 3))
    got = _q_granger(spark, sf_small).collect()[0]
    assert got["n_days"] == n
    assert abs(got["ar1_coef"] - br[1]) < 1e-5
    assert abs(got["x_lag_coef"] - bu[2]) < 1e-5
    assert abs(got["rss_restricted"] - rss_r) < max(0.01, rss_r * 1e-6)
    assert abs(got["rss_unrestricted"] - rss_u) < max(0.01, rss_u * 1e-6)
    assert abs(got["f_stat"] - f) < 1e-3
    assert got["rss_unrestricted"] <= got["rss_restricted"] + 1e-6


def test_var_es_matches_numpy(spark, sf_small):
    vals = np.sort(
        np.array(
            [
                v
                for (v,) in _duck(
                    sf_small,
                    "SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) "
                    "FROM '$SF/events.parquet' WHERE event_type = 'purchase'",
                )
            ],
            dtype=np.int64,
        )
    )
    n = len(vals)
    rank = (95 * n + 99) // 100
    var95 = vals[rank - 1]
    tail = vals[rank:]  # the worst n - rank observations
    got = _q_var_es(spark, sf_small).collect()[0]
    assert got["n_obs"] == n
    assert got["var95"] == var95 / 100.0
    assert got["n_tail"] == len(tail)
    assert abs(got["es95"] - tail.mean() / 100.0) < 1e-4
    assert got["es95"] >= got["var95"]  # ES dominates VaR


def test_eb_shrinkage_matches_bruteforce(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT c_nationkey, n_name, COUNT(*), "
        "SUM(COALESCE(u.y, 0)) FROM '$SF/customer.parquet' "
        "JOIN '$SF/nation.parquet' ON c_nationkey = n_nationkey "
        "LEFT JOIN (SELECT o_custkey, MAX(CASE WHEN o_orderpriority = '1-URGENT' "
        "THEN 1 ELSE 0 END) AS y FROM '$SF/orders.parquet' GROUP BY 1) u "
        "ON c_custkey = u.o_custkey GROUP BY 1, 2",
    )
    rates = {name: (n, k, round(k / n, 6)) for _, name, n, k in rows}
    rs = [r for _, _, r in rates.values()]
    g = len(rs)
    m = sum(rs) / g
    v = (g * sum(r * r for r in rs) - sum(rs) ** 2) / (g * (g - 1))
    s = m * (1 - m) / v - 1
    alpha, beta = round(m * s, 6), round((1 - m) * s, 6)
    got = {r["n_name"]: r for r in _q_eb_shrinkage(spark, sf_small).collect()}
    assert set(got) == set(rates)
    for name, (n, k, r) in rates.items():
        row = got[name]
        assert row["n_customers"] == n and row["n_urgent"] == k
        assert abs(row["raw_rate"] - r) < 1e-9
        assert abs(row["shrunk_rate"] - (k + alpha) / (n + alpha + beta)) < 1e-5
        # shrinkage pulls toward the prior mean
        lo, hi = sorted((r, m))
        assert lo - 1e-6 <= row["shrunk_rate"] <= hi + 1e-6


def test_price_index_matches_bruteforce(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT l_partkey, year(o_orderdate), "
        "SUM(CAST(l_extendedprice AS DECIMAL(18,2))), SUM(l_quantity) "
        "FROM '$SF/lineitem.parquet' JOIN '$SF/orders.parquet' "
        "ON l_orderkey = o_orderkey WHERE year(o_orderdate) IN (1996, 1997) "
        "GROUP BY 1, 2",
    )
    per = {}
    for pk, yr, sv, q in rows:
        per[(pk, yr)] = (round(float(sv) / float(q), 6), int(q))
    parts = {pk for pk, yr in per if yr == 1996} & {pk for pk, yr in per if yr == 1997}
    p0q0 = p1q0 = p0q1 = p1q1 = 0.0
    for pk in parts:
        p0, q0 = per[(pk, 1996)]
        p1, q1 = per[(pk, 1997)]
        p0q0 += p0 * q0
        p1q0 += p1 * q0
        p0q1 += p0 * q1
        p1q1 += p1 * q1
    got = _q_price_index(spark, sf_small).collect()[0]
    assert got["n_parts"] == len(parts)
    assert abs(got["laspeyres"] - p1q0 / p0q0) < 1e-5
    assert abs(got["paasche"] - p1q1 / p0q1) < 1e-5
    assert abs(got["fisher"] - math.sqrt((p1q0 / p0q0) * (p1q1 / p0q1))) < 1e-5
    # Fisher is the geometric mean: between the two
    lo, hi = sorted((got["laspeyres"], got["paasche"]))
    assert lo - 1e-9 <= got["fisher"] <= hi + 1e-9


def test_dau_wau_matches_bruteforce(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT DISTINCT CAST(ts AS DATE), user_id FROM '$SF/events.parquet'",
    )
    by_day = defaultdict(set)
    for d, u in rows:
        by_day[d].add(u)
    days = sorted(by_day)
    got = {r["day"]: r for r in _q_dau_wau(spark, sf_small).collect()}
    assert set(got) == set(days)
    for d in days:
        window = [dd for dd in days if 0 <= (d - dd).days <= 6]
        wau_users = set().union(*(by_day[dd] for dd in window))
        r = got[d]
        assert r["dau"] == len(by_day[d])
        assert r["wau"] == len(wau_users)
        assert r["window_days"] == len(window)
        assert abs(r["stickiness"] - len(by_day[d]) / len(wau_users)) < 1e-6
        assert r["dau"] <= r["wau"]
