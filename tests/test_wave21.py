"""Pin tests for the session-9 wave-B operators: Jarque-Bera, Theil
index, and the Shewhart control chart — each against an independent
brute-force Python/NumPy reference computed straight from the parquet
inputs, on top of the generic oracle-parity gate."""

from __future__ import annotations

import math
from collections import defaultdict

import duckdb
import numpy as np

from dbt_lab_spark.workload_stats import _q_jarque_bera, _q_theil_index
from dbt_lab_spark.workload_timeseries import _q_spc_chart


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    try:
        return con.sql(sql.replace("$SF", sf_dir)).fetchall()
    finally:
        con.close()


def test_jarque_bera_matches_numpy(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) "
        "FROM '$SF/events.parquet'",
    )
    by_t = defaultdict(list)
    for t, v in rows:
        by_t[t].append(v)
    got = {r["event_type"]: r for r in _q_jarque_bera(spark, sf_small).collect()}
    assert set(got) == set(by_t)
    for t, vs in by_t.items():
        a = np.array(vs)
        n = len(a)
        m2 = a.var()
        g1 = ((a - a.mean()) ** 3).mean() / m2**1.5
        g2 = ((a - a.mean()) ** 4).mean() / m2**2 - 3
        jb = n / 6.0 * (g1**2 + g2**2 / 4.0)
        r = got[t]
        assert r["n_events"] == n
        assert abs(r["skewness"] - g1) < 1e-4
        assert abs(r["excess_kurtosis"] - g2) < 1e-4
        assert abs(r["jb_stat"] - jb) < max(0.01, jb * 1e-4)
        assert r["non_normal"] == (jb > 5.991465)


def test_theil_index_matches_numpy(spark, sf_small):
    vals = np.array(
        [
            v
            for (v,) in _duck(
                sf_small,
                "SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) "
                "FROM '$SF/orders.parquet' GROUP BY o_custkey",
            )
        ],
        dtype=np.float64,
    )
    mu = vals.mean()
    # frozen round-6 log terms like the query
    theil = sum(
        round(math.log(v / mu), 6) * v for v in vals
    ) / vals.sum()
    got = _q_theil_index(spark, sf_small).collect()[0]
    assert got["n_customers"] == len(vals)
    assert abs(got["mean_spend"] - mu / 100.0) < 0.01
    assert abs(got["theil_t"] - theil) < 1e-5
    assert got["theil_t"] >= 0.0  # Theil T is non-negative


def test_spc_chart_matches_numpy(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT CAST(ts AS DATE), COUNT(*), "
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) "
        "FROM '$SF/events.parquet' WHERE event_type = 'purchase' "
        "GROUP BY 1 ORDER BY 1",
    )
    xbars = {d: round(s / m, 6) for d, m, s in rows}
    vals = np.array(list(xbars.values()))
    k = len(vals)
    cl = vals.sum() / k
    sd = math.sqrt((k * (vals * vals).sum() - vals.sum() ** 2) / (k * (k - 1)))
    lcl, ucl = round(cl - 3 * sd, 6), round(cl + 3 * sd, 6)
    got = {r["day"]: r for r in _q_spc_chart(spark, sf_small).collect()}
    assert set(got) == set(xbars)
    for d, (dd, m, s) in zip(sorted(xbars), rows):
        r = got[d]
        assert r["n_obs"] == m
        assert abs(r["daily_mean"] - xbars[d]) < 1e-6
        assert abs(r["lcl"] - lcl) < 1e-4
        assert abs(r["ucl"] - ucl) < 1e-4
        assert r["out_of_control"] == (xbars[d] < lcl or xbars[d] > ucl)
    # limits bracket the center line
    any_r = next(iter(got.values()))
    assert any_r["lcl"] < any_r["center"] < any_r["ucl"]
