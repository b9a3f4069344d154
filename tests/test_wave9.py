"""Pin tests for the session-6 wave-B operators: k-core peel, Q-Q
vigintile ladder, Wald-Wolfowitz runs test, histogram split gain, and
grouped log-log elasticity — each against an independent brute-force
Python/NumPy reference computed straight from the parquet inputs, on
top of the generic oracle-parity gate."""

from __future__ import annotations

import math
from collections import defaultdict

import duckdb
import numpy as np

from dbt_lab_spark.workload_extras import _trade_edges_topk
from dbt_lab_spark.workload_stats import (
    _q_elasticity,
    _q_kcore,
    _q_qq_plot,
    _q_split_gain,
)
from dbt_lab_spark.workload_timeseries import _q_runs_test


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    try:
        return con.sql(sql.replace("$SF", sf_dir)).fetchall()
    finally:
        con.close()


def test_kcore_matches_bruteforce_and_reaches_fixpoint(spark, sf_small):
    """3 peel rounds recomputed with dict adjacency; additionally the
    peel must have CONVERGED by round 3 on this topology (the unrolled
    round count is only honest if it reaches the fixpoint)."""
    edges = {(r["src"], r["dst"]) for r in _trade_edges_topk(spark, sf_small).collect()}
    und = {tuple(sorted(e)) for e in edges}
    names = dict(
        _duck(sf_small, "SELECT n_nationkey, n_name FROM '$SF/nation.parquet'")
    )

    def peel_round(alive):
        deg = defaultdict(int)
        for a, b in und:
            if a in alive and b in alive:
                deg[a] += 1
                deg[b] += 1
        return deg, {u for u in alive if deg[u] >= 3}

    alive = {x for e in und for x in e}
    all_nodes = set(alive)
    deg = None
    for _ in range(3):
        deg, alive = peel_round(alive)
    # fixpoint check
    _, alive4 = peel_round(alive)
    assert alive4 == alive, "3 peel rounds did not converge on this graph"

    got = {r["n_name"]: r for r in _q_kcore(spark, sf_small).collect()}
    assert set(got) == {names[u] for u in all_nodes}
    for u in all_nodes:
        r = got[names[u]]
        assert r["last_degree"] == deg.get(u, 0), names[u]
        assert r["in_core"] == (u in alive), names[u]
    assert any(r["in_core"] for r in got.values())


def test_qq_plot_matches_numpy_order_stats(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) "
        "FROM '$SF/events.parquet' WHERE event_type IN ('view','purchase')",
    )
    samples = {
        t: np.sort(np.array([v for tt, v in rows if tt == t]))
        for t in ("view", "purchase")
    }
    got = {r["q"]: r for r in _q_qq_plot(spark, sf_small).collect()}
    assert sorted(got) == list(range(5, 100, 5))
    for q in range(5, 100, 5):
        r = got[q]
        for t, col in (("view", "q_view"), ("purchase", "q_purchase")):
            n = len(samples[t])
            rank = (q * n + 99) // 100  # ceil(q*n/100)
            assert r[col] == samples[t][rank - 1], (q, t)
        assert abs(r["qq_diff"] - (r["q_purchase"] - r["q_view"])) < 1e-9


def test_runs_test_matches_bruteforce(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT CAST(ts AS DATE) AS d, COUNT(*) FROM '$SF/events.parquet' "
        "GROUP BY 1 ORDER BY 1",
    )
    ys = [c for _, c in rows]
    signs = [
        1 if b > a else -1 for a, b in zip(ys, ys[1:]) if b != a
    ]
    n1 = sum(1 for s in signs if s == 1)
    n2 = len(signs) - n1
    runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1.0
    var = (mu - 1.0) * (mu - 2.0) / (n1 + n2 - 1.0)
    z = (runs - mu) / math.sqrt(var)
    got = _q_runs_test(spark, sf_small).collect()[0]
    assert got["n_up"] == n1 and got["n_down"] == n2
    assert got["n_runs"] == runs
    assert abs(got["mu_runs"] - mu) < 1e-6
    assert abs(got["z_stat"] - z) < 1e-6


def test_split_gain_matches_numpy(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT), "
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "FROM '$SF/orders.parquet' JOIN '$SF/customer.parquet' "
        "ON o_custkey = c_custkey",
    )
    bins = defaultdict(lambda: [0, 0])
    for xc, yc in rows:
        b = math.floor(xc / 50000.0)
        bins[b][0] += 1
        bins[b][1] += yc
    n = sum(c for c, _ in bins.values())
    st = sum(s for _, s in bins.values())
    ordered = sorted(bins)
    best_gain, best_bin = -1.0, None
    cl = sl = 0
    stats = {}
    for b in ordered[:-1]:
        cl += bins[b][0]
        sl += bins[b][1]
        glc = (n * sl - cl * st) / n / 100.0  # residual sum, dollars
        gain = glc * glc / (cl + 1.0) + glc * glc / ((n - cl) + 1.0)
        stats[b] = (cl, sl, gain)
        if gain > best_gain:
            best_gain, best_bin = gain, b
    got = _q_split_gain(spark, sf_small).collect()[0]
    cl, sl, gain = stats[best_bin]
    assert got["split_bin"] == best_bin
    assert got["split_value"] == (best_bin + 1) * 500.0
    assert got["n_left"] == cl and got["n_right"] == n - cl
    assert abs(got["gain"] - gain) < 1e-2
    assert abs(got["mean_left"] - sl / cl / 100.0) < 1e-4
    assert abs(got["mean_right"] - (st - sl) / (n - cl) / 100.0) < 1e-4
    # left/right means genuinely differ at the chosen split
    assert got["mean_left"] != got["mean_right"]


def test_elasticity_matches_numpy(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT p_brand, CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE), "
        "CAST(l_quantity AS DOUBLE) FROM '$SF/lineitem.parquet' "
        "JOIN '$SF/part.parquet' ON l_partkey = p_partkey",
    )
    by_brand = defaultdict(list)
    for b, p, q in rows:
        by_brand[b].append((round(math.log(p), 6), round(math.log(q), 6)))
    got = {r["p_brand"]: r for r in _q_elasticity(spark, sf_small).collect()}
    assert set(got) == set(by_brand)
    for b, pts in by_brand.items():
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        r = got[b]
        assert r["n_lines"] == n
        assert abs(r["elasticity"] - slope) < 1e-4, b
        assert abs(r["mean_ln_qty"] - sy / n) < 1e-5
