"""Pin tests for the session-5 wave-B operators: weighted isotonic
regression (minimax identity), dynamic time warping, WOE/information
value binning, HITS hubs/authorities, and CUPED variance reduction —
each against an independent brute-force Python/NumPy reference
computed straight from the parquet inputs, on top of the generic
oracle-parity gate."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import duckdb
import numpy as np

from dbt_lab_spark.workload_stats import (
    _q_cuped,
    _q_hits,
    _q_isotonic,
    _q_woe_iv,
)
from dbt_lab_spark.workload_timeseries import _q_dtw
from dbt_lab_spark.workload_extras import _trade_edges_topk


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    try:
        return con.sql(sql.replace("$SF", sf_dir)).fetchall()
    finally:
        con.close()


def test_isotonic_matches_pava(spark, sf_small):
    """The minimax-formula fit must equal classic PAVA pooling
    (recomputed here with exact integer cents), and be monotone
    non-decreasing in the hour index."""
    rows = _duck(
        sf_small,
        "SELECT hour(ts), COUNT(*), "
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) "
        "FROM '$SF/events.parquet' WHERE event_type = 'purchase' "
        "GROUP BY 1 ORDER BY 1",
    )
    # PAVA with exact integer (weight, cent-sum) block pooling
    blocks = []  # (w, s_cents)
    for _, w, s in rows:
        blocks.append([w, s])
        while len(blocks) > 1 and (
            blocks[-2][1] * blocks[-1][0] > blocks[-1][1] * blocks[-2][0]
        ):
            b = blocks.pop()
            blocks[-1][0] += b[0]
            blocks[-1][1] += b[1]
    # expand blocks back to per-hour fitted values
    fit = []
    for w, s in blocks:
        # block weight w spans consecutive hours whose weights sum to w
        fit.append((w, s / (100.0 * w)))
    expanded = []
    i = 0
    for w, v in fit:
        acc = 0
        while acc < w:
            acc += rows[i][1]
            expanded.append(v)
            i += 1
        assert acc == w  # block boundaries align with hour boundaries

    got = _q_isotonic(spark, sf_small).collect()
    assert [r["hour"] for r in got] == [h for h, _, _ in rows]
    assert [r["n_events"] for r in got] == [w for _, w, _ in rows]
    fitted = [r["fitted"] for r in got]
    assert all(a <= b + 1e-9 for a, b in zip(fitted, fitted[1:]))  # monotone
    for g, e in zip(fitted, expanded):
        assert abs(g - e) < 1e-4
    # raw averages pin too
    for r, (_, w, s) in zip(got, rows):
        assert abs(r["raw_avg"] - s / 100.0 / w) < 1e-4


def test_dtw_matches_numpy_dp(spark, sf_small):
    """DTW recomputed with a plain NumPy DP over the same frozen
    round-6 profiles; the view-vs-view self pair must be 0."""
    rows = _duck(
        sf_small,
        "SELECT event_type, hour(ts), "
        "round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) "
        "FROM '$SF/events.parquet' GROUP BY 1, 2",
    )
    prof = defaultdict(lambda: np.zeros(24))
    for t, h, p in rows:
        prof[t][h] = p
    b = prof["view"]

    def dtw(a):
        n = len(a)
        dp = np.full((n + 1, n + 1), np.inf)
        dp[0, 0] = 0.0
        for i in range(1, n + 1):
            for j in range(1, n + 1):
                c = abs(a[i - 1] - b[j - 1])
                dp[i, j] = c + min(dp[i - 1, j], dp[i, j - 1], dp[i - 1, j - 1])
        return float(dp[n, n])

    got = {r["event_type"]: r for r in _q_dtw(spark, sf_small).collect()}
    assert set(got) == set(prof)
    for t, a in prof.items():
        d = dtw(a)
        assert abs(got[t]["dtw_dist"] - d) < 1e-5, t
        assert abs(got[t]["dtw_per_step"] - d / 48.0) < 1e-5, t
    assert got["view"]["dtw_dist"] == 0.0


def test_woe_iv_matches_bruteforce(spark, sf_small):
    """Bins, WOE, and IV recomputed with a plain Python sort +
    deterministic decile split and the same frozen-ln rounding."""
    rows = _duck(
        sf_small,
        "SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)), "
        "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END "
        "FROM '$SF/orders.parquet' ORDER BY 2, 1",
    )
    n = len(rows)
    base, rem = divmod(n, 10)
    per = defaultdict(lambda: [0, 0])  # bin -> [n, nb]
    idx = 0
    for b in range(1, 11):
        size = base + (1 if b <= rem else 0)
        for _ in range(size):
            per[b][0] += 1
            per[b][1] += rows[idx][2]
            idx += 1
    gt = sum(v[0] - v[1] for v in per.values())
    bt = sum(v[1] for v in per.values())
    woes = {
        b: round(math.log((v[0] - v[1]) * bt / (v[1] * gt)), 6)
        for b, v in per.items()
    }
    iv = (
        sum(
            ((v[0] - v[1]) * bt - v[1] * gt) * woes[b]
            for b, v in per.items()
        )
        / (gt * bt)
    )
    got = {r["bin"]: r for r in _q_woe_iv(spark, sf_small).collect()}
    assert set(got) == set(per)
    for b, (cnt, nb) in per.items():
        assert got[b]["n_orders"] == cnt
        assert got[b]["n_bad"] == nb
        assert abs(float(got[b]["woe"]) - woes[b]) < 1e-6, b
        assert abs(got[b]["iv_total"] - iv) < 1e-4
    assert iv > 0.0 or iv == 0.0


def test_hits_matches_bruteforce(spark, sf_small):
    """Two exact-integer HITS iterations recomputed with dict
    adjacency from the same top-3 trade edges."""
    edges = [(r["src"], r["dst"]) for r in _trade_edges_topk(spark, sf_small).collect()]
    names = dict(
        _duck(sf_small, "SELECT n_nationkey, n_name FROM '$SF/nation.parquet'")
    )
    a1 = defaultdict(int)
    for _, d in edges:
        a1[d] += 1
    h1 = defaultdict(int)
    for s, d in edges:
        h1[s] += a1[d]
    a2 = defaultdict(int)
    for s, d in edges:
        a2[d] += h1[s]
    h2 = defaultdict(int)
    for s, d in edges:
        h2[s] += a2[d]
    nodes = {x for e in edges for x in e}
    ma, mh = max(a2.values()), max(h2.values())
    got = {r["n_name"]: r for r in _q_hits(spark, sf_small).collect()}
    assert set(got) == {names[x] for x in nodes}
    for x in nodes:
        r = got[names[x]]
        assert r["auth_score"] == a2.get(x, 0)
        assert r["hub_score"] == h2.get(x, 0)
        assert abs(r["auth_norm"] - a2.get(x, 0) / ma) < 1e-6
        assert abs(r["hub_norm"] - h2.get(x, 0) / mh) < 1e-6
    assert max(r["auth_norm"] for r in got.values()) == 1.0


def test_cuped_matches_bruteforce(spark, sf_small):
    """Theta, adjusted means, and rho^2 recomputed from integer-cent
    per-user sums with hashlib md5 arm assignment."""
    rows = _duck(
        sf_small,
        "SELECT user_id, "
        "CAST(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' "
        "  THEN CAST(value AS DECIMAL(18,2)) END), 0) * 100 AS BIGINT), "
        "CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' "
        "  THEN CAST(value AS DECIMAL(18,2)) END), 0) * 100 AS BIGINT) "
        "FROM '$SF/events.parquet' GROUP BY 1",
    )
    xs = np.array([x for _, x, _ in rows], dtype=np.float64)
    ys = np.array([y for _, _, y in rows], dtype=np.float64)
    arms = np.array(
        [
            "A"
            if hashlib.md5(f"{u}cuped".encode()).hexdigest()[0] in "01234567"
            else "B"
            for u, _, _ in rows
        ]
    )
    n = len(rows)
    cov = n * float((xs * ys).sum()) - xs.sum() * ys.sum()
    varx = n * float((xs * xs).sum()) - xs.sum() ** 2
    vary = n * float((ys * ys).sum()) - ys.sum() ** 2
    theta = cov / varx
    got = {r["arm"]: r for r in _q_cuped(spark, sf_small).collect()}
    assert set(got) == {"A", "B"}
    for arm in "AB":
        mask = arms == arm
        assert got[arm]["n_users"] == int(mask.sum())
        raw = ys[mask].mean() / 100.0
        adj = raw - theta * (xs[mask].mean() / 100.0 - xs.mean() / 100.0)
        assert abs(got[arm]["raw_mean"] - raw) < 1e-4
        assert abs(got[arm]["adj_mean"] - adj) < 1e-4
        assert abs(got[arm]["theta"] - theta) < 1e-4
        assert abs(got[arm]["rho2"] - cov * cov / (varx * vary)) < 1e-4
    # CUPED preserves the overall mean shift direction: A-B gap sign
    assert 0.0 <= got["A"]["rho2"] <= 1.0
