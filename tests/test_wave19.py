"""Pin tests for the session-8 wave-D operators: rolling OLS beta,
partial correlation, and Burrows' Delta — each against an independent
brute-force Python/NumPy reference computed straight from the parquet
inputs, on top of the generic oracle-parity gate."""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import numpy as np

from dbt_lab_spark.workload_stats import _q_burrows_delta, _q_partial_corr
from dbt_lab_spark.workload_timeseries import _q_rolling_beta


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    try:
        return con.sql(sql.replace("$SF", sf_dir)).fetchall()
    finally:
        con.close()


def test_rolling_beta_matches_numpy(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT CAST(ts AS DATE) AS d, "
        "SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END), "
        "CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' "
        "  THEN CAST(value AS DECIMAL(18,2)) END), 0) * 100 AS BIGINT) "
        "FROM '$SF/events.parquet' WHERE event_type IN ('view','purchase') "
        "GROUP BY 1 ORDER BY 1",
    )
    days = [r[0] for r in rows]
    xs = np.array([r[1] for r in rows], dtype=np.float64)
    ys = np.array([r[2] for r in rows], dtype=np.float64)
    got = {r["day"]: r for r in _q_rolling_beta(spark, sf_small).collect()}
    assert set(got) == set(days[6:])
    for i in range(6, len(days)):
        x = xs[i - 6 : i + 1]
        y = ys[i - 6 : i + 1]
        beta = np.polyfit(x, y, 1)[0] / 100.0
        corr = np.corrcoef(x, y)[0, 1]
        r = got[days[i]]
        assert r["window_n"] == 7
        assert abs(r["beta"] - beta) < max(1e-4, abs(beta) * 1e-5)
        assert abs(r["corr"] - corr) < 1e-5


def test_partial_corr_matches_numpy(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT), "
        "COALESCE(y, 0), COALESCE(k, 0) FROM '$SF/customer.parquet' "
        "LEFT JOIN (SELECT o_custkey, COUNT(*) AS k, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y "
        "FROM '$SF/orders.parquet' GROUP BY 1) o ON c_custkey = o_custkey",
    )
    x = np.array([r[0] for r in rows], dtype=np.float64)
    y = np.array([r[1] for r in rows], dtype=np.float64)
    z = np.array([r[2] for r in rows], dtype=np.float64)
    rxy = np.corrcoef(x, y)[0, 1]
    rxz = np.corrcoef(x, z)[0, 1]
    rzy = np.corrcoef(y, z)[0, 1]
    partial = (rxy - rxz * rzy) / math.sqrt((1 - rxz**2) * (1 - rzy**2))
    got = _q_partial_corr(spark, sf_small).collect()[0]
    assert got["n_customers"] == len(rows)
    assert abs(got["r_bal_spend"] - rxy) < 1e-5
    assert abs(got["r_bal_orders"] - rxz) < 1e-5
    assert abs(got["r_spend_orders"] - rzy) < 1e-5
    assert abs(got["partial_r"] - partial) < 1e-5
    assert -1.0 <= got["partial_r"] <= 1.0


def test_burrows_delta_matches_bruteforce(spark, sf_small):
    rows = _duck(sf_small, "SELECT source, lower(text) FROM '$SF/documents.parquet'")
    tok_counts = Counter()
    by_src = defaultdict(Counter)
    tot = Counter()
    for s, t in rows:
        for tok in t.split():
            tok_counts[tok] += 1
            by_src[s][tok] += 1
            tot[s] += 1
    top = [
        t for t, _ in sorted(tok_counts.items(), key=lambda kv: (-kv[1], kv[0]))[:30]
    ]
    srcs = sorted(by_src)

    def q(v, places):
        return Decimal(repr(v)).quantize(
            Decimal("1e-{}".format(places)), rounding=ROUND_HALF_UP
        )

    f = {
        (s, t): q(by_src[s][t] / tot[s], 9) for s in srcs for t in top
    }
    z = {}
    for t in top:
        vals = [float(f[(s, t)]) for s in srcs]
        ns = len(vals)
        m = sum(vals) / ns
        sd = math.sqrt(
            (ns * sum(v * v for v in vals) - sum(vals) ** 2) / (ns * (ns - 1))
        )
        for s in srcs:
            z[(s, t)] = q((float(f[(s, t)]) - m) / sd, 6)
    got = {
        (r["source"], r["source2"]): r
        for r in _q_burrows_delta(spark, sf_small).collect()
    }
    expected_pairs = {
        (a, b) for i, a in enumerate(srcs) for b in srcs[i + 1 :]
    }
    assert set(got) == expected_pairs
    for a, b in expected_pairs:
        delta = float(sum(abs(z[(a, t)] - z[(b, t)]) for t in top)) / len(top)
        r = got[(a, b)]
        assert r["n_tokens"] == len(top)
        assert abs(r["delta"] - delta) < 1e-5, (a, b)
        assert r["delta"] >= 0.0
