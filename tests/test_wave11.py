"""Pin tests for the session-7 operators: MDE/power planning,
winsorized moments, and the full GBDT boosting round — each against an
independent brute-force Python/NumPy reference computed straight from
the parquet inputs, on top of the generic oracle-parity gate."""

from __future__ import annotations

import math
from collections import defaultdict
from decimal import Decimal

import duckdb
import numpy as np

from dbt_lab_spark.workload_stats import (
    _q_gbm_round,
    _q_mde_power,
    _q_winsorized_stats,
)


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    try:
        return con.sql(sql.replace("$SF", sf_dir)).fetchall()
    finally:
        con.close()


def test_mde_power_matches_bruteforce(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT event_type, CAST(value AS DECIMAL(18,2)) > 100, CAST(ts AS DATE) "
        "FROM '$SF/events.parquet'",
    )
    agg = defaultdict(lambda: [0, 0, set()])
    for t, hit, d in rows:
        agg[t][0] += 1
        agg[t][1] += 1 if hit else 0
        agg[t][2].add(d)
    got = {r["event_type"]: r for r in _q_mde_power(spark, sf_small).collect()}
    assert set(got) == set(agg)
    zsum = 2.801586
    for t, (n, k, days) in agg.items():
        p = k / n
        mde = zsum * math.sqrt(2 * p * (1 - p) / (n / 2.0))
        n_req = 2 * zsum * zsum * p * (1 - p) / ((0.05 * p) * (0.05 * p))
        r = got[t]
        assert r["n_events"] == n
        assert abs(r["rate"] - p) < 1e-6
        assert abs(r["mde_abs"] - mde) < 1e-5
        assert abs(r["mde_rel"] - mde / p) < 1e-4
        assert abs(r["n_required"] - n_req) < max(0.02, n_req * 1e-6)
        assert abs(r["days_needed"] - n_req / (n / len(days))) < max(
            0.02, n_req / (n / len(days)) * 1e-6
        )
        # sanity: detecting a 5% lift on a rare-ish rate takes more data
        assert r["n_required"] > r["n_events"] * 0  # positive
    # smaller rate => larger relative MDE, sanity on ordering existence
    assert len({round(r["mde_rel"], 4) for r in got.values()}) > 1


def test_winsorized_stats_matches_numpy(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) "
        "FROM '$SF/events.parquet'",
    )
    by_t = defaultdict(list)
    for t, v in rows:
        by_t[t].append(v)
    got = {r["event_type"]: r for r in _q_winsorized_stats(spark, sf_small).collect()}
    assert set(got) == set(by_t)
    for t, vs in by_t.items():
        vs = np.sort(np.array(vs))
        n = len(vs)
        p5 = vs[(5 * n + 99) // 100 - 1]
        p95 = vs[(95 * n + 99) // 100 - 1]
        w = np.clip(vs, p5, p95)
        r = got[t]
        assert r["n_events"] == n
        assert r["p5"] == p5 and r["p95"] == p95
        assert abs(r["raw_mean"] - vs.mean()) < 1e-4
        assert abs(r["wins_mean"] - w.mean()) < 1e-4
        assert abs(r["wins_std"] - w.std(ddof=1)) < 1e-4
        # winsorized std never exceeds raw std
        assert r["wins_std"] <= vs.std(ddof=1) + 1e-9


def test_gbm_round_matches_bruteforce(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT), "
        "CAST(o_totalprice AS DECIMAL(18,2)) "
        "FROM '$SF/orders.parquet' JOIN '$SF/customer.parquet' "
        "ON o_custkey = c_custkey",
    )
    bins = np.array([math.floor(xc / 50000.0) for xc, _ in rows])
    ys = np.array([float(y) for _, y in rows])
    n = len(ys)
    f0 = round(ys.sum() / n, 6)
    g = ys - f0
    ordered = np.unique(bins)
    best_gain, best_bin = -1.0, None
    for b in ordered[:-1]:
        m = bins <= b
        cl, gl = int(m.sum()), g[m].sum()
        gr = g.sum() - gl
        gain = gl * gl / (cl + 1.0) + gr * gr / ((n - cl) + 1.0)
        if gain > best_gain:
            best_gain, best_bin = gain, b
    m = bins <= best_bin
    leaf_l = round(g[m].sum() / m.sum(), 6) * 0.5
    leaf_r = round(g[~m].sum() / (~m).sum(), 6) * 0.5
    g1 = g - np.where(m, leaf_l, leaf_r)
    got = _q_gbm_round(spark, sf_small).collect()[0]
    assert got["split_bin"] == best_bin
    assert got["n_left"] == int(m.sum())
    assert got["n_right"] == n - int(m.sum())
    assert abs(got["leaf_left"] - leaf_l) < 1e-6
    assert abs(got["leaf_right"] - leaf_r) < 1e-6
    assert abs(got["mse_before"] - (g * g).sum() / n) < 0.02
    assert abs(got["mse_after"] - (g1 * g1).sum() / n) < 0.02
    assert got["improvement"] > 0  # a boosting step must reduce train loss
    assert abs(
        got["improvement"]
        - ((g * g).sum() - (g1 * g1).sum()) / (g * g).sum()
    ) < 1e-4
