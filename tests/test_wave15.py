"""Pin tests for the session-7 wave-E operators: moment-expanded MMD,
CMH stratified test, NDCG@100, and the Gumbel EVT fit — each against
an independent brute-force Python/NumPy reference computed straight
from the parquet inputs, on top of the generic oracle-parity gate."""

from __future__ import annotations

import math
from collections import defaultdict

import duckdb
import numpy as np

from dbt_lab_spark.workload_stats import (
    _q_cmh_test,
    _q_evt_gumbel,
    _q_mmd,
    _q_ndcg,
)


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    try:
        return con.sql(sql.replace("$SF", sf_dir)).fetchall()
    finally:
        con.close()


def test_mmd_matches_explicit_kernel_sums(spark, sf_small):
    """MMD^2 recomputed with the EXPLICIT O(n^2) kernel double sums —
    the moment expansion must equal the brute-force V-statistic."""
    rows = _duck(
        sf_small,
        "SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) "
        "FROM '$SF/events.parquet' WHERE event_type IN ('view','purchase')",
    )
    x = np.array([v for t, v in rows if t == "view"])
    y = np.array([v for t, v in rows if t == "purchase"])

    def ek(a, b):
        k = (1.0 + np.outer(a, b)) ** 2
        return float(k.mean())

    exx, eyy, exy = ek(x, x), ek(y, y), ek(x, y)
    got = _q_mmd(spark, sf_small).collect()[0]
    assert got["n_view"] == len(x) and got["n_purchase"] == len(y)
    # moment expansion == explicit double sum (to float tolerance)
    assert abs(got["e_xx"] - exx) / exx < 1e-6
    assert abs(got["e_yy"] - eyy) / eyy < 1e-6
    assert abs(got["e_xy"] - exy) / exy < 1e-6
    assert abs(got["mmd2"] - (exx + eyy - 2 * exy)) < max(
        1e-4, abs(exx + eyy - 2 * exy) * 1e-5
    )


def test_cmh_matches_bruteforce(spark, sf_small):
    cust = _duck(
        sf_small,
        "SELECT c_nationkey, c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) "
        "FROM '$SF/customer.parquet'",
    )
    urgent = dict(
        _duck(
            sf_small,
            "SELECT o_custkey, MAX(CASE WHEN o_orderpriority = '1-URGENT' "
            "THEN 1 ELSE 0 END) FROM '$SF/orders.parquet' GROUP BY 1",
        )
    )
    by_nation = defaultdict(list)
    for nk, ck, bal in cust:
        by_nation[nk].append((bal, ck))
    sa = 0
    sea = sev = 0.0
    for nk, members in by_nation.items():
        members.sort(key=lambda r: (-r[0], r[1]))
        half = len(members) // 2
        a = b = c = d = 0
        for i, (_, ck) in enumerate(members, start=1):
            e = 1 if 2 * i <= len(members) else 0
            yv = urgent.get(ck, 0)
            if e and yv:
                a += 1
            elif e:
                b += 1
            elif yv:
                c += 1
            else:
                d += 1
        n = a + b + c + d
        sa += a
        sea += round((a + b) * (a + c) / n, 6)
        sev += round((a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1)), 6)
    stat = (sa - sea) ** 2 / sev
    got = _q_cmh_test(spark, sf_small).collect()[0]
    assert got["n_strata"] == len(by_nation)
    assert got["sum_a"] == sa
    assert abs(got["sum_expected"] - sea) < 1e-4
    assert abs(got["sum_var"] - sev) < 1e-4
    assert abs(got["cmh_stat"] - stat) < 1e-3
    assert got["cmh_stat"] >= 0


def test_ndcg_matches_bruteforce(spark, sf_small):
    cust = _duck(
        sf_small,
        "SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) "
        "FROM '$SF/customer.parquet'",
    )
    rel = dict(
        _duck(sf_small, "SELECT o_custkey, COUNT(*) FROM '$SF/orders.parquet' GROUP BY 1")
    )
    base = [(ck, bal, rel.get(ck, 0)) for ck, bal in cust]
    ranked = sorted(base, key=lambda r: (-r[1], r[0]))[:100]
    ideal = sorted(base, key=lambda r: (-r[2], r[0]))[:100]
    w = [round(1.0 / math.log2(i + 1), 6) for i in range(1, 101)]
    dcg = sum(r[2] * w[i] for i, r in enumerate(ranked))
    idcg = sum(r[2] * w[i] for i, r in enumerate(ideal))
    got = _q_ndcg(spark, sf_small).collect()[0]
    assert got["k"] == 100
    assert abs(got["dcg"] - dcg) < 1e-4
    assert abs(got["idcg"] - idcg) < 1e-4
    assert abs(got["ndcg"] - dcg / idcg) < 1e-6
    assert 0.0 <= got["ndcg"] <= 1.0
    assert got["dcg"] <= got["idcg"] + 1e-9  # ideal ranking is optimal


def test_evt_gumbel_matches_numpy(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT CAST(ts AS DATE), MAX(CAST(value AS DECIMAL(18,2))) "
        "FROM '$SF/events.parquet' WHERE event_type = 'purchase' GROUP BY 1",
    )
    mx = np.array([float(v) for _, v in rows])
    m, s = mx.mean(), mx.std(ddof=1)
    beta = 0.779697 * s
    mu = m - 0.577216 * beta
    got = _q_evt_gumbel(spark, sf_small).collect()[0]
    assert got["n_days"] == len(mx)
    assert abs(got["mean_daily_max"] - m) < 1e-4
    assert abs(got["gumbel_beta"] - beta) < 1e-4
    assert abs(got["gumbel_mu"] - mu) < 1e-4
    assert abs(got["p99_daily_max"] - (mu + beta * 4.600149)) < 1e-3
    # the p99 prediction must sit above the observed mean max
    assert got["p99_daily_max"] > got["mean_daily_max"]
