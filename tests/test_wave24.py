"""r4 wave B pins: Friedman, Brown-Forsythe, Grubbs, Chow, VIF,
Engle-Granger — each validated against an independent driver-side brute
force (numpy/Decimal, no Spark expressions reused)."""

from __future__ import annotations

import math
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

from dbt_lab_spark.catalog import Catalog
from dbt_lab_spark.operators.scan import scan


def _cents(v: float) -> int:
    return int(
        Decimal(repr(v)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP) * 100
    )


def _r6(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _r4dp(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))


def _daily_purchases(spark, sf) -> dict[int, int]:
    rows = scan(spark, Catalog(sf), "events").collect()
    daily: dict[int, int] = defaultdict(int)
    for r in rows:
        if r["event_type"] == "purchase":
            daily[int(r["ts"].timestamp() * 1000) // 86400000] += _cents(r["value"])
    return dict(daily)


def test_friedman_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_stats import _q_friedman

    cust = {
        r["c_custkey"]: r["c_nationkey"]
        for r in scan(spark, Catalog(sf_small), "customer").collect()
    }
    cells: dict = defaultdict(int)
    for r in scan(spark, Catalog(sf_small), "orders").collect():
        cells[(cust[r["o_custkey"]], r["o_orderpriority"])] += _cents(r["o_totalprice"])
    by_block: dict = defaultdict(dict)
    for (nk, pr), x in cells.items():
        by_block[nk][pr] = x
    # doubled average ranks within each block
    col_r2: dict = defaultdict(int)
    for nk, d in by_block.items():
        vals = sorted(d.values())
        for pr, x in d.items():
            lt = sum(1 for v in vals if v < x)
            eq = sum(1 for v in vals if v == x)
            col_r2[pr] += 2 * lt + eq + 1
    n = float(len(by_block))
    k = float(len(col_r2))
    s4 = sum(v * v for v in col_r2.values())
    chi2 = (12.0 / (n * k * (k + 1.0))) * (float(s4) / 4.0) - 3.0 * n * (k + 1.0)
    row = _q_friedman(spark, sf_small).collect()[0]
    assert row["n_blocks"] == int(n) and row["k_treatments"] == int(k)
    assert row["chi2_stat"] == _r4dp(chi2)


def test_levene_bf_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_stats import _q_levene_bf

    groups: dict = defaultdict(list)
    for r in scan(spark, Catalog(sf_small), "events").collect():
        groups[r["event_type"]].append(_cents(r["value"]))
    zs: dict = {}
    for g, xs in groups.items():
        med = sorted(xs)[(len(xs) + 1) // 2 - 1]
        zs[g] = [abs(x - med) for x in xs]
    k = float(len(zs))
    n = float(sum(len(z) for z in zs.values()))
    sz = float(sum(sum(z) for z in zs.values()))
    szz = float(sum(sum(v * v for v in z) for z in zs.values()))
    sgm = float(sum(float(sum(z)) ** 2 / len(z) for z in zs.values()))
    ssb = sgm - (sz * sz) / n
    ssw = szz - sgm
    f = (ssb / (k - 1.0)) / (ssw / (n - k))
    row = _q_levene_bf(spark, sf_small).collect()[0]
    assert row["k_groups"] == int(k) and row["n_rows"] == int(n)
    assert abs(row["f_stat"] - f) < 2e-4


def test_grubbs_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_stats import _q_grubbs

    daily = _daily_purchases(spark, sf_small)
    n = float(len(daily))
    sx = float(sum(daily.values()))
    sxx = float(sum(v * v for v in daily.values()))
    # argmax on the exact integer |n*x - sum|, tie-broken by day
    nd_int = {d: abs(len(daily) * x - sum(daily.values())) for d, x in daily.items()}
    day = min(nd_int, key=lambda d: (-nd_int[d], d))
    var = (n * sxx - sx * sx) / (n * (n - 1.0)) / 10000.0
    g = (float(nd_int[day]) / n / 100.0) / math.sqrt(var)
    row = _q_grubbs(spark, sf_small).collect()[0]
    assert row["outlier_day"] == day
    assert row["day_value"] == daily[day] / 100.0
    assert row["g_stat"] == _r4dp(g)


def test_chow_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_timeseries import _q_chow_test

    daily = _daily_purchases(spark, sf_small)
    days = sorted(daily)
    ys = [daily[d] for d in days]
    ts = list(range(1, len(ys) + 1))
    n = len(ys)

    def rss(tt, yy):
        nn = float(len(tt))
        st, sy = float(sum(tt)), float(sum(yy))
        stt = float(sum(t * t for t in tt))
        sty = float(sum(t * y for t, y in zip(tt, yy)))
        b = (nn * sty - st * sy) / (nn * stt - st * st)
        a = (sy - b * st) / nn
        a6 = Decimal(repr(a)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        b6 = Decimal(repr(b)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        tot = 0
        for t, y in zip(tt, yy):
            e = int(
                Decimal(y) - (a6 + b6 * t).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
            )
            tot += e * e
        return float(tot)

    half = [i for i in range(n) if (i + 1) * 2 <= n]
    t1, y1 = [ts[i] for i in half], [ys[i] for i in half]
    rest = [i for i in range(n) if (i + 1) * 2 > n]
    t2, y2 = [ts[i] for i in rest], [ys[i] for i in rest]
    rp, r1, r2 = rss(ts, ys), rss(t1, y1), rss(t2, y2)
    f = ((rp - (r1 + r2)) / 2.0) / ((r1 + r2) / (float(n) - 4.0))
    row = _q_chow_test(spark, sf_small).collect()[0]
    assert row["n_days"] == n
    assert abs(row["f_stat"] - f) < 2e-3


def test_vif_matches_numpy(spark, sf_small):
    import numpy as np

    from dbt_lab_spark.workload_stats import _q_vif

    cust = scan(spark, Catalog(sf_small), "customer").collect()
    per: dict = defaultdict(lambda: [0, 0])
    for r in scan(spark, Catalog(sf_small), "orders").collect():
        per[r["o_custkey"]][0] += 1
        per[r["o_custkey"]][1] += _cents(r["o_totalprice"])
    rows = []
    for r in cust:
        n_o, spend = per.get(r["c_custkey"], (0, 0))
        rows.append((_cents(r["c_acctbal"]), n_o, spend))
    X = np.array(rows, dtype=np.float64)
    got = {r["feature"]: r for r in _q_vif(spark, sf_small).collect()}
    # independent check: R^2 of each feature on the other two via lstsq
    for i, name in enumerate(["acctbal", "n_orders", "total_spend"]):
        y = X[:, i]
        others = X[:, [j for j in range(3) if j != i]]
        A = np.column_stack([np.ones(len(y)), others])
        coef, *_ = np.linalg.lstsq(A, y, rcond=None)
        pred = A @ coef
        ssr = float(((y - pred) ** 2).sum())
        sst = float(((y - y.mean()) ** 2).sum())
        r2 = 1.0 - ssr / sst
        assert abs(got[name]["r_squared"] - r2) < 1e-5, name
        assert abs(got[name]["vif"] - 1.0 / (1.0 - r2)) < 1e-3, name
        assert got[name]["vif"] >= 1.0  # VIF lower bound


def test_engle_granger_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_timeseries import _q_engle_granger

    rows = scan(spark, Catalog(sf_small), "events").collect()
    daily: dict = defaultdict(lambda: [0, 0])
    for r in rows:
        d = int(r["ts"].timestamp() * 1000) // 86400000
        if r["event_type"] == "purchase":
            daily[d][0] += _cents(r["value"])
        elif r["event_type"] == "view":
            daily[d][1] += 1
    days = sorted(daily)
    ys = [float(daily[d][0]) for d in days]
    xs = [float(daily[d][1]) for d in days]
    n = float(len(days))
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    a = (sy - b * sx) / n
    a6 = Decimal(repr(a)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    b6 = Decimal(repr(b)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    es = []
    for d in days:
        pred = float(a6) + float(b6) * daily[d][1]
        e = Decimal(repr(daily[d][0] - pred)).quantize(
            Decimal("1"), rounding=ROUND_HALF_UP
        )
        es.append(int(e))
    pairs = list(zip(es[:-1], es[1:]))
    sed = float(sum(el * (e - el) for el, e in pairs))
    see = float(sum(el * el for el, _ in pairs))
    sdd = float(sum((e - el) ** 2 for el, e in pairs))
    m = float(len(pairs))
    rho = sed / see
    s2 = (sdd - rho * sed) / (m - 1.0)
    t = rho / math.sqrt(s2 / see)
    row = _q_engle_granger(spark, sf_small).collect()[0]
    assert row["n_days"] == len(days)
    assert abs(row["rho"] - rho) < 1e-5
    assert abs(row["df_t_stat"] - t) < 2e-3
