"""r4 wave A pins: OHLCV candles, Bollinger bands, MRR, Adamic-Adar,
Jensen-Shannon divergence, Ljung-Box — each validated against an
independent driver-side brute force (no Spark expressions reused)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import functions as F

from dbt_lab_spark.catalog import Catalog
from dbt_lab_spark.operators.scan import scan


def _cents(v: float) -> int:
    return int(
        (Decimal(repr(v)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP) * 100)
    )


def _round6(x: float) -> Decimal:
    # HALF_UP on the shortest repr — what F.round / DuckDB round do;
    # Python's round() is banker's and flips exact 5e-7 ties.
    return Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)


def _pyround6(x: float) -> float:
    """Outer-result rounding the way both engines do it (HALF_UP on the
    shortest repr) — sums of 6dp decimals halved land on exact 5e-7
    ties constantly, where Python's banker's round() flips low."""
    return float(_round6(x))


def test_ohlc_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_timeseries import _q_ohlc

    rows = scan(spark, Catalog(sf_small), "events").collect()
    buckets: dict = defaultdict(list)
    for r in rows:
        ms = int(r["ts"].timestamp() * 1000)
        h = ms // 3600000
        buckets[(r["event_type"], h)].append((ms, r["event_id"], _cents(r["value"])))
    got = {(r["event_type"], r["h"]): r for r in _q_ohlc(spark, sf_small).collect()}
    assert set(got) == set(buckets)
    for key, pts in buckets.items():
        pts.sort()
        g = got[key]
        assert g["open"] == pts[0][2] / 100.0
        assert g["close"] == pts[-1][2] / 100.0
        assert g["high"] == max(p[2] for p in pts) / 100.0
        assert g["low"] == min(p[2] for p in pts) / 100.0
        assert g["n_trades"] == len(pts)
        assert g["volume"] == sum(p[2] for p in pts) / 100.0


def test_bollinger_bands_match_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_timeseries import _q_bollinger

    rows = scan(spark, Catalog(sf_small), "events").collect()
    daily: dict = defaultdict(int)
    for r in rows:
        if r["event_type"] != "purchase":
            continue
        d = int(r["ts"].timestamp() * 1000) // 86400000
        daily[d] += _cents(r["value"])
    days = sorted(daily)
    exp = {}
    for i in range(6, len(days)):
        win = [daily[d] for d in days[i - 6 : i + 1]]
        sw, sww = float(sum(win)), float(sum(v * v for v in win))
        m = sw / 7.0
        sd = math.sqrt((7.0 * sww - sw * sw) / (7.0 * 6.0))
        exp[days[i]] = (m / 100.0, (m + 2.0 * sd) / 100.0, (m - 2.0 * sd) / 100.0)
    got = {r["d"]: r for r in _q_bollinger(spark, sf_small).collect()}
    assert set(got) == set(exp)
    for d, (m, up, lo) in exp.items():
        assert got[d]["mean7"] == m
        assert got[d]["upper"] == up
        assert got[d]["lower"] == lo


def test_mrr_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_stats import _MRR_MIN_ORDERS, _q_mrr

    cust = scan(spark, Catalog(sf_small), "customer").collect()
    orders = scan(spark, Catalog(sf_small), "orders", ["o_custkey"]).collect()
    n_orders = Counter(r["o_custkey"] for r in orders)
    by_nation: dict = defaultdict(list)
    for r in cust:
        bal = Decimal(repr(r["c_acctbal"])).quantize(
            Decimal("0.01"), rounding=ROUND_HALF_UP
        )
        by_nation[r["c_nationkey"]].append((-bal, r["c_custkey"]))
    total = Decimal(0)
    n_with = 0
    for nk, lst in by_nation.items():
        lst.sort()
        first = next(
            (
                i + 1
                for i, (_, ck) in enumerate(lst)
                if n_orders.get(ck, 0) >= _MRR_MIN_ORDERS
            ),
            None,
        )
        if first is not None:
            n_with += 1
            total += _round6(1.0 / first)
    row = _q_mrr(spark, sf_small).collect()[0]
    assert row["n_queries"] == len(by_nation)
    assert row["n_with_relevant"] == n_with
    assert row["mrr"] == _pyround6(float(total) / len(by_nation))


def test_adamic_adar_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_extras import _trade_edges_topk
    from dbt_lab_spark.workload_stats import _q_adamic_adar

    edges = _trade_edges_topk(spark, sf_small).collect()
    und = {tuple(sorted((r["src"], r["dst"]))) for r in edges}
    nbrs: dict = defaultdict(set)
    for a, b in und:
        nbrs[a].add(b)
        nbrs[b].add(a)
    scores = {}
    nodes = sorted(nbrs)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1 :]:
            if (u, v) in und:
                continue
            common = nbrs[u] & nbrs[v]
            if not common:
                continue
            scores[(u, v)] = (
                sum((_round6(1.0 / math.log(len(nbrs[z]))) for z in common), Decimal(0)),
                len(common),
            )
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))[:20]
    got = _q_adamic_adar(spark, sf_small).collect()
    assert len(got) == min(20, len(ranked))
    for row, ((u, v), (aa, ncom)) in zip(got, ranked):
        assert (row["u"], row["v"]) == (u, v)
        assert row["n_common"] == ncom
        assert row["aa"] == _pyround6(float(aa))


def test_js_divergence_is_symmetric_bounded_and_exact(spark, sf_small):
    from dbt_lab_spark.workload_stats import _q_js_divergence

    docs = scan(spark, Catalog(sf_small), "documents", ["source", "text"]).collect()
    cnt: dict = defaultdict(Counter)
    for r in docs:
        cnt[r["source"]].update(t for t in r["text"].lower().strip().split() if t)
    dists = {
        s: {t: c / sum(cc.values()) for t, c in cc.items()} for s, cc in cnt.items()
    }
    got = {(r["s1"], r["s2"]): r["jsd"] for r in _q_js_divergence(spark, sf_small).collect()}
    srcs = sorted(dists)
    expected_pairs = {(a, b) for i, a in enumerate(srcs) for b in srcs[i + 1 :]}
    assert set(got) == expected_pairs
    for (a, b), jsd in got.items():
        assert 0.0 <= jsd <= math.log(2) + 1e-9  # JSD (nats) bound
        p, q = dists[a], dists[b]
        acc1 = Decimal(0)
        acc2 = Decimal(0)
        for t in set(p) | set(q):
            pp, qq = p.get(t, 0.0), q.get(t, 0.0)
            m = (pp + qq) / 2.0
            if pp > 0:
                acc1 += _round6(pp * math.log(pp / m))
            if qq > 0:
                acc2 += _round6(qq * math.log(qq / m))
        assert jsd == _pyround6(0.5 * float(acc1) + 0.5 * float(acc2))


def test_ljung_box_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_timeseries import _LB_LAGS, _q_ljung_box

    rows = scan(spark, Catalog(sf_small), "events", ["ts"]).collect()
    hourly = Counter(int(r["ts"].timestamp() * 1000) // 3600000 for r in rows)
    xs = [hourly[h] for h in sorted(hourly)]
    n = float(len(xs))
    xbar = sum(xs) / n
    den = float(sum(x * x for x in xs)) - n * xbar * xbar
    acc = Decimal(0)
    for k in range(1, _LB_LAGS + 1):
        pairs = list(zip(xs, xs[k:]))
        sxy = float(sum(a * b for a, b in pairs))
        sa = float(sum(a for a, _ in pairs))
        sb = float(sum(b for _, b in pairs))
        nk = n - float(k)
        r = (sxy - xbar * (sa + sb) + nk * xbar * xbar) / den
        acc += _round6(r * r / nk)
    row = _q_ljung_box(spark, sf_small).collect()[0]
    assert row["n_buckets"] == len(xs)
    assert row["m_lags"] == _LB_LAGS
    assert abs(row["q_stat"] - round(n * (n + 2.0) * float(acc), 4)) < 2e-4
