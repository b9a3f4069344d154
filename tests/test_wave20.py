"""Pin tests for the session-9 regression-diagnostics suite:
Breusch-Pagan, Durbin-Watson, Cook's distance, and two-change-point
segmentation — each against an independent brute-force Python/NumPy
reference computed straight from the parquet inputs, on top of the
generic oracle-parity gate."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import numpy as np

from dbt_lab_spark.workload_stats import _q_breusch_pagan, _q_cooks_distance
from dbt_lab_spark.workload_timeseries import _q_changepoint2, _q_durbin_watson


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    try:
        return con.sql(sql.replace("$SF", sf_dir)).fetchall()
    finally:
        con.close()


def _q6(v: float) -> float:
    return float(Decimal(repr(v)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _cust_fit(sf_small):
    rows = _duck(
        sf_small,
        "SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT), "
        "COALESCE(y, 0) FROM '$SF/customer.parquet' "
        "LEFT JOIN (SELECT o_custkey, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y "
        "FROM '$SF/orders.parquet' GROUP BY 1) o ON c_custkey = o_custkey",
    )
    x = np.array([r[1] for r in rows], dtype=np.float64)
    y = np.array([r[2] for r in rows], dtype=np.float64)
    n = len(x)
    b = (n * (x * y).sum() - x.sum() * y.sum()) / (n * (x * x).sum() - x.sum() ** 2)
    a = (y.sum() - b * x.sum()) / n
    a6, b6 = _q6(a), _q6(b)
    # frozen-coefficient residuals rounded to whole cents
    e = np.array(
        [
            float(
                Decimal(int(yy))
                - (Decimal(repr(a6)) + Decimal(repr(b6)) * Decimal(int(xx)))
            )
            for xx, yy in zip(x, y)
        ]
    )
    e = np.round(e)  # ties at .5 don't occur: scale-6 decimals
    return rows, x, y, e, n


def test_breusch_pagan_matches_numpy(spark, sf_small):
    rows, x, y, e, n = _cust_fit(sf_small)
    e2 = e * e
    cov = n * (e2 * x).sum() - x.sum() * e2.sum()
    vx = n * (x * x).sum() - x.sum() ** 2
    ve2 = n * (e2 * e2).sum() - e2.sum() ** 2
    r2 = cov * cov / (vx * ve2)
    got = _q_breusch_pagan(spark, sf_small).collect()[0]
    assert got["n_customers"] == n
    assert abs(got["aux_slope"] - cov / vx) < max(1e-5, abs(cov / vx) * 1e-5)
    assert abs(got["r2_aux"] - r2) < 1e-5
    assert abs(got["lm_stat"] - n * r2) < 1e-3
    assert got["heteroscedastic"] == (n * r2 > 3.841459)


def test_durbin_watson_matches_numpy(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT CAST(ts AS DATE), "
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) "
        "FROM '$SF/events.parquet' WHERE event_type = 'purchase' "
        "GROUP BY 1 ORDER BY 1",
    )
    y = np.array([v for _, v in rows], dtype=np.float64)
    t = np.arange(1, len(y) + 1, dtype=np.float64)
    n = len(y)
    b = (n * (t * y).sum() - t.sum() * y.sum()) / (n * (t * t).sum() - t.sum() ** 2)
    a = (y.sum() - b * t.sum()) / n
    a6, b6 = _q6(a), _q6(b)
    e = np.round(y - (a6 + b6 * t))
    dw = float(((e[1:] - e[:-1]) ** 2).sum() / (e * e).sum())
    got = _q_durbin_watson(spark, sf_small).collect()[0]
    assert got["n_days"] == n
    assert abs(got["dw_stat"] - dw) < 1e-5
    assert abs(got["rho_hat"] - (1 - dw / 2)) < 1e-5
    assert 0.0 <= got["dw_stat"] <= 4.0


def test_cooks_distance_matches_numpy(spark, sf_small):
    rows, x, y, e, n = _cust_fit(sf_small)
    xbar = x.sum() / n
    sxx = (x * x).sum() - x.sum() * xbar
    h = 1.0 / n + (x - xbar) ** 2 / sxx
    s2 = (e * e).sum() / (n - 2)
    d = e * e * h / (2 * s2 * (1 - h) ** 2)
    d6 = [ _q6(v) for v in d ]
    order = sorted(range(n), key=lambda i: (-d6[i], rows[i][0]))[:10]
    got = _q_cooks_distance(spark, sf_small).collect()
    assert len(got) == 10
    for rank, (r, i) in enumerate(zip(got, order), start=1):
        assert r["rank"] == rank
        assert r["c_custkey"] == rows[i][0], (rank, r["c_custkey"], rows[i][0])
        assert abs(r["cooks_d"] - d[i]) < max(1e-5, d[i] * 1e-5)
        assert abs(r["leverage"] - h[i]) < 1e-6
    assert got[0]["cooks_d"] >= got[-1]["cooks_d"]


def test_changepoint2_matches_numpy_scan(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS h, COUNT(*) "
        "FROM '$SF/events.parquet' GROUP BY 1 ORDER BY 1",
    )
    y = np.array([c for _, c in rows], dtype=np.float64)
    hs = [h for h, _ in rows]
    T = len(y)

    def sse(seg):
        return ((seg - seg.mean()) ** 2).sum()

    best, bk = math.inf, None
    for k1 in range(1, T - 1):
        for k2 in range(k1 + 1, T):
            s = sse(y[:k1]) + sse(y[k1:k2]) + sse(y[k2:])
            if s < best - 1e-9:
                best, bk = s, (k1, k2)
    got = _q_changepoint2(spark, sf_small).collect()[0]
    k1, k2 = bk
    assert got["split1_hour"] == hs[k1 - 1]
    assert got["split2_hour"] == hs[k2 - 1]
    assert abs(got["sse_best"] - best) < 1e-3
    assert abs(got["mean_seg1"] - y[:k1].mean()) < 1e-5
    assert abs(got["mean_seg2"] - y[k1:k2].mean()) < 1e-5
    assert abs(got["mean_seg3"] - y[k2:].mean()) < 1e-5
    # 2 splits can only improve on the single best split
    single = min(
        sse(y[:k]) + sse(y[k:]) for k in range(1, T)
    )
    assert got["sse_best"] <= single + 1e-6
