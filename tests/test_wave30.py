"""r4 wave H pins: Bowley skewness, I-MR chart, two-proportion z, odds
ratio, Cramer's V, Youden J — independent driver-side brute forces."""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

from dbt_lab_spark.catalog import Catalog
from dbt_lab_spark.operators.scan import scan


def _cents(v: float) -> int:
    return int(
        Decimal(repr(v)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP) * 100
    )


def _r(x: float, dp: int) -> float:
    q = Decimal(1).scaleb(-dp)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _day(ts) -> int:
    return int(ts.timestamp() * 1000) // 86400000


def _daily_purchases(spark, sf) -> dict[int, int]:
    daily: dict[int, int] = defaultdict(int)
    for r in scan(spark, Catalog(sf), "events").collect():
        if r["event_type"] == "purchase":
            daily[_day(r["ts"])] += _cents(r["value"])
    return dict(daily)


def test_bowley_skew_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_stats import _q_bowley_skew

    groups: dict = defaultdict(list)
    for r in scan(spark, Catalog(sf_small), "events").collect():
        groups[r["event_type"]].append(_cents(r["value"]))
    got = {r["event_type"]: r for r in _q_bowley_skew(spark, sf_small).collect()}
    assert set(got) == set(groups)
    for t, xs in groups.items():
        xs.sort()
        n = len(xs)
        q1 = xs[max(1, (n + 1) // 4) - 1]
        q2 = xs[(n + 1) // 2 - 1]
        q3 = xs[min(n, 3 * (n + 1) // 4) - 1]
        g = got[t]
        assert (g["q1"], g["median"], g["q3"]) == (q1 / 100.0, q2 / 100.0, q3 / 100.0)
        assert g["bowley_skew"] == _r((q3 + q1 - 2 * q2) / (q3 - q1), 6)
        assert -1.0 - 1e-9 <= g["bowley_skew"] <= 1.0 + 1e-9  # Bowley bound


def test_moving_range_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_timeseries import _IMR_D4, _IMR_E2, _q_moving_range

    daily = _daily_purchases(spark, sf_small)
    days = sorted(daily)
    xs = [daily[d] for d in days]
    mrs = [abs(b - a) for a, b in zip(xs, xs[1:])]
    xb = sum(xs) / len(xs)
    mrb = sum(mrs) / len(mrs)
    ucl_x = _r(xb + _IMR_E2 * mrb, 0)
    lcl_x = _r(xb - _IMR_E2 * mrb, 0)
    ucl_mr = _r(_IMR_D4 * mrb, 0)
    row = _q_moving_range(spark, sf_small).collect()[0]
    assert row["n_days"] == len(xs)
    assert row["mean_daily"] == _r(_r(xb, 6) / 100.0, 4)
    assert row["n_out_x"] == sum(1 for x in xs if x > ucl_x or x < lcl_x)
    assert row["n_out_mr"] == sum(1 for m in mrs if m > ucl_mr)


def test_two_prop_z_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_stats import _q_two_prop_z

    n1 = k1 = n2 = k2 = 0
    for r in scan(spark, Catalog(sf_small), "events").collect():
        dow = (_day(r["ts"]) + 4) % 7
        y = 1 if r["event_type"] == "purchase" else 0
        if dow in (0, 6):
            n1 += 1
            k1 += y
        else:
            n2 += 1
            k2 += y
    p1, p2 = k1 / n1, k2 / n2
    pp = (k1 + k2) / (n1 + n2)
    z = (p1 - p2) / math.sqrt(pp * (1 - pp) * (1 / n1 + 1 / n2))
    row = _q_two_prop_z(spark, sf_small).collect()[0]
    assert (row["n_weekend"], row["k_weekend"]) == (n1, k1)
    assert (row["n_weekday"], row["k_weekday"]) == (n2, k2)
    assert row["z_stat"] == _r(z, 4)


def test_odds_ratio_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_stats import _q_odds_ratio

    flags: dict = defaultdict(lambda: [0, 0])
    for r in scan(spark, Catalog(sf_small), "events").collect():
        if r["event_type"] not in ("view", "purchase"):
            continue
        f = flags[(r["user_id"], _day(r["ts"]))]
        if r["event_type"] == "view":
            f[0] = 1
        else:
            f[1] = 1
    a = sum(1 for e, y in flags.values() if e and y)
    b = sum(1 for e, y in flags.values() if e and not y)
    c = sum(1 for e, y in flags.values() if not e and y)
    d = sum(1 for e, y in flags.values() if not e and not y)
    ah, bh, ch, dh = a + 0.5, b + 0.5, c + 0.5, d + 0.5
    orr = (ah * dh) / (bh * ch)
    se = math.sqrt(1 / ah + 1 / bh + 1 / ch + 1 / dh)
    row = _q_odds_ratio(spark, sf_small).collect()[0]
    assert (row["a"], row["b"], row["c"], row["d"]) == (a, b, c, d)
    assert row["odds_ratio"] == _r(orr, 6)
    assert row["log_or_lo"] < math.log(orr) < row["log_or_hi"]


def test_cramers_v_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_stats import _q_cramers_v

    cells: Counter = Counter()
    for r in scan(spark, Catalog(sf_small), "events").collect():
        cells[(r["event_type"], (_day(r["ts"]) + 4) % 7)] += 1
    rm: Counter = Counter()
    cm: Counter = Counter()
    for (t, w), o in cells.items():
        rm[t] += o
        cm[w] += o
    n = sum(cells.values())
    chi = Decimal(0)
    for (t, w), o in cells.items():
        exp = rm[t] * cm[w] / n
        chi += Decimal(repr(round((o - exp) ** 2 / exp, 6))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
    v = math.sqrt(float(chi) / (n * min(len(rm) - 1, len(cm) - 1)))
    row = _q_cramers_v(spark, sf_small).collect()[0]
    assert (row["n"], row["n_rows"], row["n_cols"]) == (n, len(rm), len(cm))
    assert abs(row["chi2"] - float(chi)) < 2e-4
    assert abs(row["cramers_v"] - v) < 1e-5
    assert 0.0 <= row["cramers_v"] <= 1.0 + 1e-9


def test_youden_j_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_stats import _YJ_BINS, _q_youden_j

    urgent: dict = defaultdict(int)
    for r in scan(spark, Catalog(sf_small), "orders").collect():
        if r["o_orderpriority"] == "1-URGENT":
            urgent[r["o_custkey"]] = 1
    rows = sorted(
        (_cents(r["c_acctbal"]), urgent.get(r["c_custkey"], 0))
        for r in scan(spark, Catalog(sf_small), "customer").collect()
    )
    n = len(rows)
    per: dict = defaultdict(lambda: [0, 0])
    for i, (_b, y) in enumerate(rows):
        bb = i * _YJ_BINS // n
        per[bb][0] += 1
        per[bb][1] += y
    npos = sum(p for _, p in per.values())
    nneg = n - npos
    best = None
    tp = fp = 0
    for bb in sorted(per, reverse=True):
        nb, pb = per[bb]
        tp += pb
        fp += nb - pb
        cross = tp * nneg - fp * npos
        if best is None or cross > best[0] or (cross == best[0] and bb < best[1]):
            best = (cross, bb, tp, fp)
    row = _q_youden_j(spark, sf_small).collect()[0]
    assert row["best_cut_decile"] == best[1]
    assert (row["tp"], row["fp"]) == (best[2], best[3])
    assert row["youden_j"] == _r(best[2] / npos - best[3] / nneg, 6)
    assert -1.0 <= row["youden_j"] <= 1.0
