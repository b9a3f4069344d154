"""Pin tests for the session-6 wave-C operators: event study, HTE
segments, TOST equivalence, md5 sign-flip permutation test, and
seasonal strength — each against an independent brute-force
Python/NumPy reference computed straight from the parquet inputs, on
top of the generic oracle-parity gate."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict
from decimal import Decimal

import duckdb
import numpy as np

from dbt_lab_spark.workload_stats import (
    _q_hte_segments,
    _q_permutation_test,
    _q_tost,
)
from dbt_lab_spark.workload_timeseries import _q_event_study, _q_seasonal_strength


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    try:
        return con.sql(sql.replace("$SF", sf_dir)).fetchall()
    finally:
        con.close()


def test_event_study_matches_bruteforce(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT user_id, CAST(ts AS DATE), event_type, "
        "CAST(value AS DECIMAL(18,2)) FROM '$SF/events.parquet'",
    )
    anchor = {}
    for u, d, t, v in rows:
        if t == "purchase" and (u not in anchor or d < anchor[u]):
            anchor[u] = d
    agg = defaultdict(lambda: [0, Decimal(0)])
    for u, d, t, v in rows:
        if u in anchor:
            rd = (d - anchor[u]).days
            if abs(rd) <= 7:
                agg[rd][0] += 1
                agg[rd][1] += v
    got = {r["rel_day"]: r for r in _q_event_study(spark, sf_small).collect()}
    assert set(got) == set(agg)
    assert 0 in got  # day 0 always has the anchor purchases themselves
    for rd, (n, s) in agg.items():
        assert got[rd]["n_events"] == n
        assert abs(got[rd]["mean_value"] - float(s) / n) < 1e-4


def test_hte_segments_matches_bruteforce(spark, sf_small):
    cust = _duck(
        sf_small,
        "SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) "
        "FROM '$SF/customer.parquet' ORDER BY 2, 1",
    )
    spend = dict(
        _duck(
            sf_small,
            "SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) "
            "FROM '$SF/orders.parquet' GROUP BY 1",
        )
    )
    n = len(cust)
    base, rem = divmod(n, 5)
    cells = defaultdict(lambda: [0, Decimal(0), 0, Decimal(0)])
    idx = 0
    for seg in range(1, 6):
        size = base + (1 if seg <= rem else 0)
        for _ in range(size):
            ck, _bal = cust[idx]
            idx += 1
            arm_a = hashlib.md5(f"{ck}hte".encode()).hexdigest()[0] in "01234567"
            y = spend.get(ck, Decimal(0))
            if arm_a:
                cells[seg][0] += 1
                cells[seg][1] += y
            else:
                cells[seg][2] += 1
                cells[seg][3] += y
    got = {r["segment"]: r for r in _q_hte_segments(spark, sf_small).collect()}
    assert sorted(got) == [1, 2, 3, 4, 5]
    for seg, (na, sa, nb, sb) in cells.items():
        r = got[seg]
        assert r["n_a"] == na and r["n_b"] == nb
        ma, mb = float(sa) / na, float(sb) / nb
        assert abs(r["mean_a"] - ma) < 1e-4
        assert abs(r["mean_b"] - mb) < 1e-4
        assert abs(r["uplift"] - (ma - mb)) < 1e-4


def test_tost_matches_numpy(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "FROM '$SF/events.parquet' WHERE event_type IN ('view','purchase')",
    )
    x = np.array([c for t, c in rows if t == "view"], dtype=np.float64)
    y = np.array([c for t, c in rows if t == "purchase"], dtype=np.float64)
    m1, m2 = x.mean() / 100.0, y.mean() / 100.0
    v1 = x.var(ddof=1) / 10000.0
    v2 = y.var(ddof=1) / 10000.0
    se = math.sqrt(v1 / len(x) + v2 / len(y))
    diff = m1 - m2
    tl, tu = (diff + 1.0) / se, (1.0 - diff) / se
    got = _q_tost(spark, sf_small).collect()[0]
    assert got["n_view"] == len(x) and got["n_purchase"] == len(y)
    assert abs(got["mean_diff"] - diff) < 1e-4
    assert abs(got["welch_se"] - se) < 1e-5
    assert abs(got["t_lower"] - tl) < 1e-3
    assert abs(got["t_upper"] - tu) < 1e-3
    assert got["equivalent"] == (min(tl, tu) > 1.645)


def test_permutation_test_matches_bruteforce(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT user_id, "
        "CAST(COALESCE(SUM(CASE WHEN event_type='purchase' "
        "  THEN CAST(value AS DECIMAL(18,2)) END), 0) * 100 AS BIGINT) "
        "- CAST(COALESCE(SUM(CASE WHEN event_type='view' "
        "  THEN CAST(value AS DECIMAL(18,2)) END), 0) * 100 AS BIGINT) "
        "FROM '$SF/events.parquet' WHERE event_type IN ('view','purchase') "
        "GROUP BY 1",
    )
    obs = sum(d for _, d in rows)
    n_extreme = 0
    for b in range(1, 65):
        stat = sum(
            d
            if hashlib.md5(f"{u}perm{b}".encode()).hexdigest()[0] in "02468ace"
            else -d
            for u, d in rows
        )
        if abs(stat) >= abs(obs):
            n_extreme += 1
    got = _q_permutation_test(spark, sf_small).collect()[0]
    assert got["n_users"] == len(rows)
    assert abs(got["obs_mean_diff"] - obs / len(rows) / 100.0) < 1e-4
    assert got["n_extreme"] == n_extreme
    assert abs(got["p_value"] - (1 + n_extreme) / 65.0) < 1e-6
    assert 0.0 < got["p_value"] <= 1.0


def test_seasonal_strength_matches_numpy(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT), COUNT(*) "
        "FROM '$SF/events.parquet' GROUP BY 1",
    )
    hs = np.array([h for h, _ in rows])
    ys = np.array([y for _, y in rows], dtype=np.float64)
    hod = hs % 24
    prof = {k: round(ys[hod == k].mean(), 6) for k in np.unique(hod)}
    r = ys - np.array([prof[k] for k in hod])
    n = len(ys)
    var_tot = ys.var()
    var_res = r.var()
    strength = max(0.0, 1.0 - var_res / var_tot)
    got = _q_seasonal_strength(spark, sf_small).collect()[0]
    assert got["n_hours"] == n
    assert abs(got["var_total"] - var_tot) < 1e-3
    assert abs(got["var_resid"] - var_res) < 1e-3
    assert abs(got["seasonal_strength"] - strength) < 1e-5
    assert 0.0 <= got["seasonal_strength"] <= 1.0
