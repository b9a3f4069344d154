"""Pin tests for the session-7 wave-C operators: exact Wasserstein-1,
Kendall tau-b, Hill tail index, and funnel time-to-convert — each
against an independent brute-force Python/NumPy/SciPy-free reference
computed straight from the parquet inputs, on top of the generic
oracle-parity gate."""

from __future__ import annotations

import math
from collections import defaultdict

import duckdb
import numpy as np

from dbt_lab_spark.workload_stats import (
    _q_hill_tail,
    _q_kendall_tau,
    _q_wasserstein,
)
from dbt_lab_spark.workload_timeseries import _q_funnel_time


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    try:
        return con.sql(sql.replace("$SF", sf_dir)).fetchall()
    finally:
        con.close()


def test_wasserstein_matches_numpy_cdf_integral(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) "
        "FROM '$SF/events.parquet' WHERE event_type IN ('view','purchase')",
    )
    x = np.sort(np.array([v for t, v in rows if t == "view"]))
    y = np.sort(np.array([v for t, v in rows if t == "purchase"]))
    support = np.unique(np.concatenate([x, y]))
    cdf1 = np.searchsorted(x, support, side="right") / len(x)
    cdf2 = np.searchsorted(y, support, side="right") / len(y)
    w1 = float(np.sum(np.abs(cdf1[:-1] - cdf2[:-1]) * np.diff(support)))
    got = _q_wasserstein(spark, sf_small).collect()[0]
    assert got["n_view"] == len(x) and got["n_purchase"] == len(y)
    assert got["n_steps"] == len(support) - 1
    assert abs(got["w1_dist"] - w1) < 1e-4
    # W1 >= |mean difference| always
    assert got["w1_dist"] >= abs(x.mean() - y.mean()) - 1e-6


def test_kendall_tau_matches_bruteforce_pairs(spark, sf_small):
    cust = _duck(
        sf_small,
        "SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) "
        "FROM '$SF/customer.parquet'",
    )
    cnts = dict(
        _duck(sf_small, "SELECT o_custkey, COUNT(*) FROM '$SF/orders.parquet' GROUP BY 1")
    )
    joined = [(ck, bal, cnts.get(ck, 0)) for ck, bal in cust]
    n = len(joined)
    xorder = sorted(joined, key=lambda r: (r[1], r[0]))
    yorder = sorted(joined, key=lambda r: (r[2], r[0]))

    def deciles(order):
        base, rem = divmod(n, 10)
        lab = {}
        idx = 0
        for d in range(1, 11):
            for _ in range(base + (1 if d <= rem else 0)):
                lab[order[idx][0]] = d
                idx += 1
        return lab

    xs, ys = deciles(xorder), deciles(yorder)
    pts = [(xs[ck], ys[ck]) for ck, _, _ in joined]
    # brute force over the contingency table (not n^2 points)
    cells = defaultdict(int)
    for p in pts:
        cells[p] += 1
    C = D = 0
    items = list(cells.items())
    for (x1, y1), n1 in items:
        for (x2, y2), n2 in items:
            if x2 > x1 and y2 > y1:
                C += n1 * n2
            elif x2 > x1 and y2 < y1:
                D += n1 * n2
    tx = defaultdict(int)
    ty = defaultdict(int)
    for (x1, y1), c in cells.items():
        tx[x1] += c
        ty[y1] += c
    n1t = sum(t * (t - 1) // 2 for t in tx.values())
    n2t = sum(u * (u - 1) // 2 for u in ty.values())
    n0 = n * (n - 1) / 2.0
    tau = (C - D) / math.sqrt((n0 - n1t) * (n0 - n2t))
    got = _q_kendall_tau(spark, sf_small).collect()[0]
    assert got["n_customers"] == n
    assert got["concordant"] == C and got["discordant"] == D
    assert got["ties_x"] == n1t and got["ties_y"] == n2t
    assert abs(got["tau_b"] - tau) < 1e-6
    assert -1.0 <= got["tau_b"] <= 1.0


def test_hill_tail_matches_numpy(spark, sf_small):
    vals = np.sort(
        np.array(
            [
                v
                for (v,) in _duck(
                    sf_small,
                    "SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) "
                    "FROM '$SF/orders.parquet'",
                )
            ]
        )
    )
    n = len(vals)
    xmin = vals[(90 * n + 99) // 100 - 1]
    tail = vals[vals > xmin]
    denom = sum(round(math.log(v / xmin), 6) for v in tail)
    alpha = len(tail) / denom
    got = _q_hill_tail(spark, sf_small).collect()[0]
    assert got["x_min"] == xmin
    assert got["n_tail"] == len(tail)
    assert abs(got["hill_alpha"] - alpha) < 1e-4
    assert abs(got["alpha_se"] - alpha / math.sqrt(len(tail))) < 1e-4
    assert got["hill_alpha"] > 0


def test_funnel_time_matches_bruteforce(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT user_id, event_type, epoch_ms(ts) // 1000 "
        "FROM '$SF/events.parquet' WHERE event_type IN ('view','purchase')",
    )
    tv = {}
    for u, t, s in rows:
        if t == "view" and (u not in tv or s < tv[u]):
            tv[u] = s
    tp = {}
    for u, t, s in rows:
        if t == "purchase" and u in tv and s >= tv[u]:
            if u not in tp or s < tp[u]:
                tp[u] = s
    lats = sorted(tp[u] - tv[u] for u in tp)
    n = len(lats)
    got = _q_funnel_time(spark, sf_small).collect()[0]
    assert got["n_users"] == n
    for q, col in ((25, "p25_secs"), (50, "p50_secs"), (75, "p75_secs"), (90, "p90_secs")):
        assert got[col] == lats[(q * n + 99) // 100 - 1], col
    assert abs(got["mean_secs"] - sum(lats) / n) < 0.01
    assert got["p25_secs"] <= got["p50_secs"] <= got["p75_secs"] <= got["p90_secs"]
