"""Pin tests for the session-7 wave-D operators: partition-skew
audit, Zipf fit, negative-binomial dispersion, and Cronbach's alpha —
each against an independent brute-force Python/NumPy reference
computed straight from the parquet inputs, on top of the generic
oracle-parity gate."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import duckdb
import numpy as np

from dbt_lab_spark.workload_stats import (
    _q_cronbach,
    _q_dispersion,
    _q_skew_audit,
    _q_zipf_fit,
)


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    try:
        return con.sql(sql.replace("$SF", sf_dir)).fetchall()
    finally:
        con.close()


def test_skew_audit_matches_bruteforce(spark, sf_small):
    keys = [
        k
        for (k,) in _duck(
            sf_small, "SELECT l_orderkey FROM '$SF/lineitem.parquet'"
        )
    ]
    counts = Counter(
        int(hashlib.md5(str(k).encode()).hexdigest()[:4], 16) % 32 for k in keys
    )
    ns = np.array(list(counts.values()), dtype=np.float64)
    got = _q_skew_audit(spark, sf_small).collect()[0]
    assert got["n_buckets"] == len(counts)
    assert got["n_rows"] == len(keys)
    assert got["max_bucket"] == int(ns.max())
    assert abs(got["skew_factor"] - ns.max() / ns.mean()) < 1e-5
    assert abs(got["top_share"] - ns.max() / ns.sum()) < 1e-6
    assert abs(got["cv"] - ns.std() / ns.mean()) < 1e-5
    # a uniform hash on a uniform key should show low skew
    assert got["skew_factor"] < 2.0


def test_zipf_fit_matches_numpy(spark, sf_small):
    rows = _duck(sf_small, "SELECT lower(text) FROM '$SF/documents.parquet'")
    freq = Counter()
    for (t,) in rows:
        for tok in t.split():
            freq[tok] += 1
    top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    pts = [
        (round(math.log(r), 6), round(math.log(n), 6))
        for r, (_, n) in enumerate(top, start=1)
    ]
    k = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    got = _q_zipf_fit(spark, sf_small).collect()[0]
    assert got["n_tokens"] == k
    assert abs(got["zipf_slope"] - slope) < 1e-4
    assert abs(got["ln_c"] - (sy - slope * sx) / k) < 1e-4
    assert got["zipf_slope"] < 0  # frequencies decay with rank


def test_dispersion_matches_numpy(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT event_type, user_id, COUNT(*) FROM '$SF/events.parquet' GROUP BY 1, 2",
    )
    by_t = defaultdict(list)
    for t, _, k in rows:
        by_t[t].append(k)
    got = {r["event_type"]: r for r in _q_dispersion(spark, sf_small).collect()}
    assert set(got) == set(by_t)
    for t, ks in by_t.items():
        a = np.array(ks, dtype=np.float64)
        r = got[t]
        assert r["n_users"] == len(a)
        assert abs(r["mean_count"] - a.mean()) < 1e-5
        assert abs(r["var_count"] - a.var(ddof=1)) < 1e-5
        assert abs(r["vmr"] - a.var(ddof=1) / a.mean()) < 1e-5
        assert abs(
            r["nb_alpha"] - (a.var(ddof=1) - a.mean()) / a.mean() ** 2
        ) < 1e-5


def test_cronbach_matches_numpy(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT event_type, user_id, COUNT(*) FROM '$SF/events.parquet' GROUP BY 1, 2",
    )
    users = sorted({u for _, u, _ in rows})
    types = sorted({t for t, _, _ in rows})
    mat = np.zeros((len(users), len(types)))
    uidx = {u: i for i, u in enumerate(users)}
    tidx = {t: j for j, t in enumerate(types)}
    for t, u, k in rows:
        mat[uidx[u], tidx[t]] = k
    k = len(types)
    item_vars = mat.var(axis=0, ddof=1).sum()
    total_var = mat.sum(axis=1).var(ddof=1)
    alpha = k / (k - 1) * (1 - item_vars / total_var)
    got = _q_cronbach(spark, sf_small).collect()[0]
    assert got["k_items"] == k
    assert got["n_users"] == len(users)
    assert abs(got["sum_item_var"] - item_vars) < 1e-4
    assert abs(got["total_var"] - total_var) < 1e-4
    assert abs(got["cronbach_alpha"] - alpha) < 1e-5
    assert got["cronbach_alpha"] <= 1.0
