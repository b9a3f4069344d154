"""Pin tests for the session-6 operators: difference-in-differences,
Wald SPRT, Hampel rolling-median/MAD filter, exact weighted median,
and split-conformal intervals — each against an independent
brute-force Python/NumPy reference computed straight from the parquet
inputs, on top of the generic oracle-parity gate."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict
from decimal import Decimal

import duckdb
import numpy as np

from dbt_lab_spark.workload_stats import (
    _q_conformal,
    _q_did,
    _q_weighted_median,
)
from dbt_lab_spark.workload_timeseries import _q_hampel, _q_sprt


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    try:
        return con.sql(sql.replace("$SF", sf_dir)).fetchall()
    finally:
        con.close()


def test_did_matches_bruteforce(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT c_custkey, o_orderdate, CAST(o_totalprice AS DECIMAL(18,2)) "
        "FROM '$SF/orders.parquet' JOIN '$SF/customer.parquet' "
        "ON o_custkey = c_custkey",
    )
    cells = defaultdict(lambda: [0, Decimal(0)])
    for ck, od, tp in rows:
        arm = (
            "A"
            if hashlib.md5(f"{ck}did".encode()).hexdigest()[0] in "01234567"
            else "B"
        )
        post = 1 if od.year >= 1998 else 0
        cells[(arm, post)][0] += 1
        cells[(arm, post)][1] += tp

    def mean(a, p):
        n, s = cells[(a, p)]
        return float(s) / n

    got = _q_did(spark, sf_small).collect()[0]
    assert got["n_a_pre"] == cells[("A", 0)][0]
    assert got["n_b_post"] == cells[("B", 1)][0]
    for col, (a, p) in [
        ("mean_a_pre", ("A", 0)),
        ("mean_a_post", ("A", 1)),
        ("mean_b_pre", ("B", 0)),
        ("mean_b_post", ("B", 1)),
    ]:
        assert abs(got[col] - mean(a, p)) < 1e-4, col
    did = (mean("A", 1) - mean("A", 0)) - (mean("B", 1) - mean("B", 0))
    assert abs(got["did_estimate"] - did) < 1e-4


def test_sprt_walk_matches_decimal_recurrence(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT CAST(ts AS DATE) AS d, COUNT(*), "
        "SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) "
        "FROM '$SF/events.parquet' WHERE event_type IN ('view','purchase') "
        "GROUP BY 1 ORDER BY 1",
    )
    l1 = Decimal("0.200671")
    bound = Decimal("2.944439")
    cum = Decimal(0)
    expect = []
    first_cross = None
    for d, m, k in rows:
        cum += (2 * k - m) * l1
        state = (
            "accept_h1" if cum >= bound else "accept_h0" if cum <= -bound else "continue"
        )
        if state != "continue" and first_cross is None:
            first_cross = d
        expect.append((d, m, k, float(cum), state))
    got = _q_sprt(spark, sf_small).collect()
    assert len(got) == len(expect)
    for r, (d, m, k, llr, state) in zip(got, expect):
        assert r["day"] == d and r["n_trials"] == m and r["n_success"] == k
        assert abs(r["cum_llr"] - llr) < 1e-9
        assert r["state"] == state
        assert r["first_cross"] == first_cross
    # the walk is a genuine random walk: not all increments equal
    llrs = [r["cum_llr"] for r in got]
    diffs = {round(b - a, 6) for a, b in zip(llrs, llrs[1:])}
    assert len(diffs) > 1


def test_hampel_matches_numpy(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT), COUNT(*) "
        "FROM '$SF/events.parquet' GROUP BY 1 ORDER BY 1",
    )
    hs = np.array([h for h, _ in rows])
    ys = np.array([y for _, y in rows], dtype=np.int64)
    outliers = {}
    for i, (h, y) in enumerate(zip(hs, ys)):
        m = (hs >= h - 3) & (hs <= h + 3)
        win = np.sort(ys[m])
        cnt = len(win)
        med = int(win[(cnt + 1) // 2 - 1])  # lower median
        ads = np.sort(np.abs(ys[m] - med))
        mad = int(ads[(cnt + 1) // 2 - 1])
        if abs(int(y) - med) > 3 * mad:
            outliers[int(h)] = (int(y), med, mad, cnt)
    got = {r["hour"]: r for r in _q_hampel(spark, sf_small).collect()}
    assert set(got) == set(outliers)
    for h, (y, med, mad, cnt) in outliers.items():
        r = got[h]
        assert (r["y"], r["rolling_med"], r["rolling_mad"], r["window_n"]) == (
            y,
            med,
            mad,
            cnt,
        )


def test_weighted_median_matches_bruteforce(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT n_name, CAST(l_extendedprice AS DECIMAL(18,2)), "
        "CAST(l_quantity AS BIGINT), l_orderkey, l_linenumber "
        "FROM '$SF/lineitem.parquet' "
        "JOIN '$SF/supplier.parquet' ON l_suppkey = s_suppkey "
        "JOIN '$SF/nation.parquet' ON s_nationkey = n_nationkey",
    )
    by_nation = defaultdict(list)
    for n, p, w, ok, ln in rows:
        by_nation[n].append((p, ok, ln, w))
    got = {r["n_name"]: r for r in _q_weighted_median(spark, sf_small).collect()}
    assert set(got) == set(by_nation)
    for n, items in by_nation.items():
        items.sort()
        totw = sum(w for _, _, _, w in items)
        cum = 0
        med = None
        for p, _, _, w in items:
            cum += w
            if 2 * cum >= totw:
                med = float(p)
                break
        r = got[n]
        assert r["wmedian_price"] == med, n
        assert r["total_qty"] == totw
        assert r["n_lines"] == len(items)
        # a weighted median is a real datum: it appears in the data
        assert any(float(p) == med for p, _, _, _ in items)


def test_conformal_matches_numpy(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT o_orderkey, "
        "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT), "
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "FROM '$SF/orders.parquet' JOIN '$SF/customer.parquet' "
        "ON o_custkey = c_custkey",
    )
    is_cal = {
        ok: hashlib.md5(f"{ok}conf".encode()).hexdigest()[0] in "01234567"
        for ok, _, _ in rows
    }
    cal = [(ok, x, y) for ok, x, y in rows if is_cal[ok]]
    test = [(ok, x, y) for ok, x, y in rows if not is_cal[ok]]
    n = len(cal)
    xs = np.array([x for _, x, _ in cal], dtype=np.float64)
    ys = np.array([y for _, _, y in cal], dtype=np.float64)
    b1 = (n * float((xs * ys).sum()) - xs.sum() * ys.sum()) / (
        n * float((xs * xs).sum()) - xs.sum() ** 2
    )
    b0 = (ys.sum() - b1 * xs.sum()) / n
    res = sorted(
        (abs(y - (b0 + b1 * x)), ok) for ok, x, y in cal
    )
    k = min(math.ceil(0.9 * (n + 1)), n)
    q = res[k - 1][0]
    n_in = sum(1 for ok, x, y in test if abs(y - (b0 + b1 * x)) <= q)
    got = _q_conformal(spark, sf_small).collect()[0]
    assert got["n_cal"] == n and got["n_test"] == len(test)
    assert abs(got["beta1"] - b1) < 1e-5
    assert abs(got["q_hat"] - q / 100.0) < 1e-4
    assert abs(got["coverage"] - n_in / len(test)) < 1e-6
    # marginal validity: coverage should be near the 90% target
    assert 0.8 <= got["coverage"] <= 1.0
