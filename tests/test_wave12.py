"""Pin tests for the session-7 wave-B operators: Markov
removal-effect attribution, Hurst R/S exponent, and Tukey median
polish — each against an independent brute-force Python/NumPy
reference computed straight from the parquet inputs, on top of the
generic oracle-parity gate."""

from __future__ import annotations

import math
from collections import defaultdict
from decimal import Decimal

import duckdb
import numpy as np

from dbt_lab_spark.workload_stats import _q_median_polish
from dbt_lab_spark.workload_timeseries import _q_hurst, _q_markov_attribution


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    try:
        return con.sql(sql.replace("$SF", sf_dir)).fetchall()
    finally:
        con.close()


def test_markov_attribution_matches_bruteforce(spark, sf_small):
    """Transitions, absorption, and removal effects recomputed from
    raw events with plain dicts and float arithmetic (loose tolerance
    absorbs the round-6 freezing)."""
    rows = _duck(
        sf_small,
        "SELECT user_id, ts, CASE WHEN event_type = 'purchase' THEN 'conv' "
        "ELSE event_type END FROM '$SF/events.parquet' ORDER BY user_id, ts, 3",
    )
    journeys = defaultdict(list)
    for u, ts, s in rows:
        journeys[u].append(s)
    trans = defaultdict(int)
    for u, seq in journeys.items():
        if "conv" in seq:
            seq = seq[: seq.index("conv") + 1]
        prev = "start"
        for s in seq:
            trans[(prev, s)] += 1
            prev = s
        if seq[-1] != "conv":
            trans[(seq[-1], "null")] += 1
    tot = defaultdict(int)
    for (s, t), c in trans.items():
        tot[s] += c
    p = {(s, t): c / tot[s] for (s, t), c in trans.items()}
    states = {s for s, _ in p} | {t for _, t in p}

    def absorb(removed):
        v = {s: 1.0 if s == "conv" else 0.0 for s in states}
        for _ in range(6):
            nxt = {}
            for s in states:
                if s == "conv":
                    nxt[s] = 1.0
                elif s == removed:
                    nxt[s] = 0.0
                else:
                    nxt[s] = sum(
                        pv * v[b]
                        for (a, b), pv in p.items()
                        if a == s and b != removed
                    )
            v = nxt
        return v.get("start", 0.0)

    base = absorb(None)
    effs = {
        c: (base - absorb(c)) / base for c in ("click", "view", "signup", "error")
    }
    re_tot = sum(effs.values())
    got = {r["channel"]: r for r in _q_markov_attribution(spark, sf_small).collect()}
    assert set(got) == set(effs)
    for c, re in effs.items():
        r = got[c]
        assert abs(r["base_pconv"] - base) < 1e-4
        assert abs(r["removal_effect"] - re) < 1e-3
        assert abs(r["attribution"] - re / re_tot) < 1e-3
    assert abs(sum(r["attribution"] for r in got.values()) - 1.0) < 1e-4
    # removing any channel can only hurt conversion
    assert all(r["removal_effect"] >= -1e-9 for r in got.values())


def test_hurst_matches_numpy(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS h, COUNT(*) "
        "FROM '$SF/events.parquet' GROUP BY 1 ORDER BY 1",
    )
    ys = np.array([y for _, y in rows], dtype=np.float64)
    T = len(ys)
    pts = []
    mean_rs_by_m = {}
    for m in (45, 90, 180, 360):
        nb = T // m
        rss = []
        for b in range(nb):
            y = ys[b * m : (b + 1) * m]
            dev = np.cumsum(y - y.mean())
            r = max(dev.max(), 0.0) - min(dev.min(), 0.0)
            s = y.std()  # population
            rss.append(round(r / s, 6))
        mean_rs = round(sum(rss) / nb, 6)
        mean_rs_by_m[m] = (nb, mean_rs)
        pts.append((round(math.log(m), 6), round(math.log(mean_rs), 6)))
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    hurst = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    got = {r["block_size"]: r for r in _q_hurst(spark, sf_small).collect()}
    assert sorted(got) == [45, 90, 180, 360]
    for m, (nb, mean_rs) in mean_rs_by_m.items():
        assert got[m]["n_blocks"] == nb
        assert abs(got[m]["mean_rs"] - mean_rs) < 1e-4
        assert abs(got[m]["hurst"] - hurst) < 1e-4
    assert 0.0 < got[45]["hurst"] < 1.0


def test_median_polish_matches_bruteforce(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT n_name, o_orderpriority, CAST(o_totalprice AS DECIMAL(18,2)) "
        "FROM '$SF/orders.parquet' "
        "JOIN '$SF/customer.parquet' ON o_custkey = c_custkey "
        "JOIN '$SF/nation.parquet' ON c_nationkey = n_nationkey",
    )
    vals = defaultdict(list)
    for a, b, y in rows:
        vals[(a, b)].append(y)
    cell = {
        k: sorted(v)[(len(v) + 1) // 2 - 1] for k, v in vals.items()
    }
    ns = sorted({a for a, _ in cell})
    ps = sorted({b for _, b in cell})
    work = dict(cell)
    row_eff = {a: Decimal(0) for a in ns}
    col_eff = {b: Decimal(0) for b in ps}

    def lmed(v):
        v = sorted(v)
        return v[(len(v) + 1) // 2 - 1]

    for _ in range(2):
        for a in ns:
            med = lmed([work[(a, b)] for b in ps if (a, b) in work])
            row_eff[a] += med
            for b in ps:
                if (a, b) in work:
                    work[(a, b)] -= med
        for b in ps:
            med = lmed([work[(a, b)] for a in ns if (a, b) in work])
            col_eff[b] += med
            for a in ns:
                if (a, b) in work:
                    work[(a, b)] -= med
    got = {
        (r["n_name"], r["o_orderpriority"]): r
        for r in _q_median_polish(spark, sf_small).collect()
    }
    assert set(got) == set(cell)
    for k in cell:
        r = got[k]
        assert r["cell_median"] == float(cell[k])
        assert abs(r["row_effect"] - float(row_eff[k[0]])) < 1e-9
        assert abs(r["col_effect"] - float(col_eff[k[1]])) < 1e-9
        assert abs(r["residual"] - float(work[k])) < 1e-9
        # decomposition identity: cell = row + col + residual
        assert abs(
            r["cell_median"] - (r["row_effect"] + r["col_effect"] + r["residual"])
        ) < 1e-6
    # after the final column sweep every priority's residual median is 0
    for b in ps:
        res = sorted(got[(a, b)]["residual"] for a in ns if (a, b) in got)
        assert res[(len(res) + 1) // 2 - 1] == 0.0
