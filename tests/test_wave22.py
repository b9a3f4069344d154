"""Pin tests for the session-9 wave-C operators: Kruskal-Wallis,
McNemar, and the cumulative gains chart — each against an independent
brute-force Python/NumPy reference computed straight from the parquet
inputs, on top of the generic oracle-parity gate."""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from decimal import Decimal

import duckdb
import numpy as np

from dbt_lab_spark.workload_stats import (
    _q_gains_chart,
    _q_kruskal_wallis,
    _q_mcnemar,
)


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    try:
        return con.sql(sql.replace("$SF", sf_dir)).fetchall()
    finally:
        con.close()


def test_kruskal_wallis_matches_numpy_ranks(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) "
        "FROM '$SF/events.parquet'",
    )
    by_t = defaultdict(list)
    for t, v in rows:
        by_t[t].append(v)
    allv = np.array([v for _, v in rows])
    order = np.argsort(allv, kind="mergesort")
    ranks = np.empty(len(allv))
    sv = allv[order]
    i = 0
    while i < len(sv):
        j = i
        while j < len(sv) and sv[j] == sv[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0
        i = j
    rank_of = defaultdict(list)
    for (t, _), r in zip(rows, ranks):
        rank_of[t].append(r)
    n = len(allv)
    h = 12.0 / (n * (n + 1)) * sum(
        (sum(rs)) ** 2 / len(rs) for rs in rank_of.values()
    ) - 3 * (n + 1)
    _, counts = np.unique(allv, return_counts=True)
    tie3 = float((counts.astype(np.int64) ** 3 - counts).sum())
    hc = h / (1 - tie3 / (n**3 - n))
    got = _q_kruskal_wallis(spark, sf_small).collect()[0]
    assert got["n_events"] == n
    assert got["df"] == len(by_t) - 1
    assert abs(got["h_stat"] - h) < 1e-3
    assert abs(got["h_tie_corrected"] - hc) < 1e-3
    assert got["significant"] == (hc > 9.487729)


def test_mcnemar_matches_bruteforce(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT o_custkey, "
        "MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END), "
        "MAX(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) "
        "FROM '$SF/orders.parquet' GROUP BY 1",
    )
    b = sum(1 for _, u, h in rows if u and not h)
    c = sum(1 for _, u, h in rows if not u and h)
    both = sum(1 for _, u, h in rows if u and h)
    stat = (b - c) ** 2 / (b + c)
    statc = (abs(b - c) - 1) ** 2 / (b + c)
    got = _q_mcnemar(spark, sf_small).collect()[0]
    assert got["n_customers"] == len(rows)
    assert got["urgent_only"] == b and got["high_only"] == c
    assert got["both_kinds"] == both
    assert abs(got["mcnemar_stat"] - stat) < 1e-5
    assert abs(got["mcnemar_corrected"] - statc) < 1e-5
    assert got["significant"] == (statc > 3.841459)


def test_gains_chart_matches_bruteforce(spark, sf_small):
    cust = _duck(
        sf_small,
        "SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) "
        "FROM '$SF/customer.parquet' ORDER BY 2 DESC, 1",
    )
    spend = dict(
        _duck(
            sf_small,
            "SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) "
            "FROM '$SF/orders.parquet' GROUP BY 1",
        )
    )
    n = len(cust)
    base, rem = divmod(n, 10)
    per = []
    idx = 0
    for d in range(1, 11):
        size = base + (1 if d <= rem else 0)
        s = sum(spend.get(ck, Decimal(0)) for ck, _ in cust[idx : idx + size])
        per.append((d, size, s))
        idx += size
    st = sum(s for _, _, s in per)
    got = {r["decile"]: r for r in _q_gains_chart(spark, sf_small).collect()}
    assert sorted(got) == list(range(1, 11))
    cs = Decimal(0)
    cn = 0
    for d, size, s in per:
        cs += s
        cn += size
        r = got[d]
        assert r["n_customers"] == size
        assert abs(r["spend_share"] - float(s) / float(st)) < 1e-6
        assert abs(r["cum_share"] - float(cs) / float(st)) < 1e-6
        assert abs(r["cum_lift"] - (float(cs) / float(st)) / (cn / n)) < 1e-5
    # the final cumulative share must be exactly 1
    assert abs(got[10]["cum_share"] - 1.0) < 1e-9
