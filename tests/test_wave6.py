"""Pin tests for the session-5 operators: Mann-Whitney U,
Benjamini-Hochberg FDR, sweep-line interval concurrency, max drawdown,
resource-allocation link prediction, mutual information,
gaps-and-islands streaks, and single change-point detection — each
against an independent brute-force Python/NumPy reference computed
straight from the parquet inputs, on top of the generic oracle-parity
gate."""

from __future__ import annotations

import math
from collections import defaultdict


import duckdb
import numpy as np
import pytest

from dbt_lab_spark.workload_extras import _trade_edges_topk
from dbt_lab_spark.workload_stats import (
    _q_bh_fdr,
    _q_link_pred,
    _q_mann_whitney,
    _q_mutual_info,
)
from dbt_lab_spark.workload_timeseries import (
    _q_changepoint,
    _q_drawdown,
    _q_max_concurrent,
    _q_streaks,
)


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    try:
        return con.sql(sql.replace("$SF", sf_dir)).fetchall()
    finally:
        con.close()


def test_mann_whitney_matches_bruteforce_ranks(spark, sf_small):
    """U and the tie-corrected z recomputed from scratch with numpy
    average ranks over the raw (non-compressed) samples."""
    rows = _duck(
        sf_small,
        "SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) "
        "FROM '$SF/events.parquet' WHERE event_type IN ('view','purchase')",
    )
    x = np.array([v for t, v in rows if t == "view"])
    y = np.array([v for t, v in rows if t == "purchase"])
    allv = np.concatenate([x, y])
    order = np.argsort(allv, kind="mergesort")
    ranks = np.empty(len(allv))
    # average ranks for ties
    sv = allv[order]
    i = 0
    while i < len(sv):
        j = i
        while j < len(sv) and sv[j] == sv[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0  # ranks are 1-based
        i = j
    r1 = ranks[: len(x)].sum()
    n1, n2 = len(x), len(y)
    u1 = r1 - n1 * (n1 + 1) / 2.0
    _, counts = np.unique(allv, return_counts=True)
    tie_sum = float((counts.astype(np.int64) ** 3 - counts).sum())
    n = n1 + n2
    var = (n1 * n2 / 12.0) * ((n + 1) - tie_sum / (n * (n - 1)))
    z = (u1 - n1 * n2 / 2.0) / math.sqrt(var)

    got = _q_mann_whitney(spark, sf_small).collect()[0]
    assert got["n1"] == n1 and got["n2"] == n2
    assert got["two_u1"] == round(2 * u1)
    assert got["tie_sum"] == round(tie_sum)
    assert abs(got["z_stat"] - z) < 1e-5


def test_bh_fdr_stepup_property(spark, sf_small):
    """The rejected set must be exactly ranks 1..kmax where kmax is the
    largest k with p_(k) <= k*alpha/m (alpha=0.1), recomputed in
    Python from the reported p-values."""
    rows = sorted(
        _q_bh_fdr(spark, sf_small).collect(), key=lambda r: r["k_rank"]
    )
    m = len(rows)
    assert [r["k_rank"] for r in rows] == list(range(1, m + 1))
    ps = [r["p_cheb"] for r in rows]
    assert ps == sorted(ps)
    kmax = 0
    for k, p in enumerate(ps, start=1):
        if p * 10 * m <= k:  # alpha = 0.1 in exact rational form
            kmax = k
    for r in rows:
        assert r["rejected"] == (r["k_rank"] <= kmax), r
    for r in rows:
        assert 0.0 <= r["p_cheb"] <= 1.0


def test_max_concurrent_matches_bruteforce(spark, sf_small):
    """Concurrency recomputed by brute force: for each priority count
    open intervals [start, end) at every boundary instant."""
    iv = _duck(
        sf_small,
        "SELECT o_orderpriority, o_orderdate, e.end_ts FROM '$SF/orders.parquet' o "
        "JOIN (SELECT l_orderkey, MAX(l_shipdate) AS end_ts "
        "      FROM '$SF/lineitem.parquet' GROUP BY 1) e "
        "ON o.o_orderkey = e.l_orderkey WHERE e.end_ts > o.o_orderdate",
    )
    by_prio = defaultdict(list)
    for prio, s, e in iv:
        by_prio[prio].append((s, e))
    got = {r["o_orderpriority"]: r for r in _q_max_concurrent(spark, sf_small).collect()}
    assert set(got) == set(by_prio)
    for prio, ivs in by_prio.items():
        best, best_ts = 0, None
        for t in sorted({s for s, _ in ivs}):
            c = sum(1 for s, e in ivs if s <= t < e)
            if c > best:
                best, best_ts = c, t
        assert got[prio]["max_concurrent"] == best, prio
        assert got[prio]["peak_ts"] == best_ts, prio
        assert got[prio]["n_orders"] == len(ivs)


def test_drawdown_matches_bruteforce_integer_cents(spark, sf_small):
    """Demeaned-cumulative drawdown recomputed with exact integer-cent
    arithmetic (s_k = n*cum_k - k*tot), matching the query's scaling."""
    rows = _duck(
        sf_small,
        "SELECT CAST(date_trunc('day', o_orderdate) AS DATE), "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) "
        "FROM '$SF/orders.parquet' GROUP BY 1",
    )
    daily = dict(rows)
    days = sorted(daily)
    n = len(days)
    tot = sum(daily.values())
    cum, peak, mdd = 0, None, -1
    trough = None
    for k, d in enumerate(days, start=1):
        cum += daily[d]
        s = n * cum - k * tot
        peak = s if peak is None else max(peak, s)
        if peak - s > mdd:
            mdd, trough = peak - s, d
    got = _q_drawdown(spark, sf_small).collect()[0]
    assert abs(got["max_drawdown"] - mdd / (100.0 * n)) < 1e-3
    assert got["trough_day"] == trough
    assert got["n_days"] == n
    assert got["max_drawdown"] > 0  # the demeaned curve genuinely excursions


def test_link_pred_matches_bruteforce(spark, sf_small):
    """RA scores recomputed from the same top-3 edge list with a plain
    dict adjacency; every reported pair must be non-adjacent and its
    score equal to sum(round(1/deg, 6)) over common neighbors."""
    edges = {(r["src"], r["dst"]) for r in _trade_edges_topk(spark, sf_small).collect()}
    und = {tuple(sorted(e)) for e in edges}
    adj = defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    names = dict(
        _duck(sf_small, "SELECT n_nationkey, n_name FROM '$SF/nation.parquet'")
    )
    scores = {}
    for u in adj:
        for v in adj:
            if u < v and v not in adj[u]:
                common = adj[u] & adj[v]
                if common:
                    scores[(u, v)] = (
                        sum(round(1.0 / len(adj[z]), 6) for z in common),
                        len(common),
                    )
    got = _q_link_pred(spark, sf_small).collect()
    expect_top = sorted(
        scores.items(), key=lambda kv: (-kv[1][0], kv[0])
    )[: len(got)]
    for row, ((u, v), (ra, nc)) in zip(got, expect_top):
        assert row["u_name"] == names[u] and row["v_name"] == names[v]
        assert abs(row["ra_score"] - ra) < 1e-6
        assert row["n_common"] == nc


def test_mutual_info_matches_numpy(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT c_nationkey, o_orderpriority, COUNT(*) FROM '$SF/orders.parquet' o "
        "JOIN '$SF/customer.parquet' c ON o.o_custkey = c.c_custkey GROUP BY 1, 2",
    )
    cnt = {(x, y): c for x, y, c in rows}
    n = sum(cnt.values())
    rx = defaultdict(int)
    cy = defaultdict(int)
    for (x, y), c in cnt.items():
        rx[x] += c
        cy[y] += c
    mi = sum(c / n * math.log(c * n / (rx[x] * cy[y])) for (x, y), c in cnt.items())
    hx = -sum(r / n * math.log(r / n) for r in rx.values())
    hy = -sum(c / n * math.log(c / n) for c in cy.values())
    got = _q_mutual_info(spark, sf_small).collect()[0]
    # frozen-ln rounding gives ~1e-4 slack on weighted sums
    assert abs(got["mi_nats"] - mi) < 1e-3
    assert abs(got["h_nation"] - hx) < 1e-3
    assert abs(got["h_priority"] - hy) < 1e-3
    assert 0.0 <= got["nmi"] <= 1.0
    assert got["n_orders"] == n
    assert got["mi_nats"] >= 0.0


def test_streaks_matches_bruteforce(spark, sf_small):
    rows = _duck(
        sf_small, "SELECT DISTINCT user_id, CAST(ts AS DATE) FROM '$SF/events.parquet'"
    )
    days = defaultdict(set)
    for u, d in rows:
        days[u].add(d)
    best = {}
    for u, ds in days.items():
        sd = sorted(ds)
        run_len, run_start = 1, sd[0]
        bl, bs = 1, sd[0]
        for prev, cur in zip(sd, sd[1:]):
            if (cur - prev).days == 1:
                run_len += 1
            else:
                run_len, run_start = 1, cur
            if run_len > bl:
                bl, bs = run_len, run_start
        best[u] = (bl, bs)
    expect = sorted(best.items(), key=lambda kv: (-kv[1][0], kv[0]))
    got = _q_streaks(spark, sf_small).collect()
    for row, (u, (bl, bs)) in zip(got, expect[: len(got)]):
        assert row["user_id"] == u
        assert row["streak_days"] == bl
        assert row["streak_start"] == bs


def test_changepoint_matches_numpy_scan(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS h, COUNT(*) "
        "FROM '$SF/events.parquet' GROUP BY 1 ORDER BY 1",
    )
    y = np.array([c for _, c in rows], dtype=np.float64)
    hs = [h for h, _ in rows]
    best_sse, best_k = math.inf, None
    for k in range(1, len(y)):
        l, r = y[:k], y[k:]
        sse = ((l - l.mean()) ** 2).sum() + ((r - r.mean()) ** 2).sum()
        if sse < best_sse - 1e-9:
            best_sse, best_k = sse, k
    got = _q_changepoint(spark, sf_small).collect()[0]
    assert got["split_after_hour"] == hs[best_k - 1]
    assert got["n_left"] == best_k
    assert got["n_right"] == len(y) - best_k
    assert abs(got["sse_best"] - best_sse) < 1e-3
    assert abs(got["mean_left"] - y[:best_k].mean()) < 1e-5
    assert abs(got["mean_right"] - y[best_k:].mean()) < 1e-5
