"""Pin tests for the session-8 wave-B operators: grid-DBSCAN
classification, SRM check, directed-graph stats, and exact higher
moments — each against an independent brute-force Python/NumPy
reference computed straight from the parquet inputs, on top of the
generic oracle-parity gate."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import duckdb
import numpy as np

from dbt_lab_spark.workload_extras import _trade_edges_topk
from dbt_lab_spark.workload_stats import (
    _q_dbscan_core,
    _q_graph_stats,
    _q_higher_moments,
    _q_srm_check,
)


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    try:
        return con.sql(sql.replace("$SF", sf_dir)).fetchall()
    finally:
        con.close()


def _u(key, salt: str) -> float:
    return int(hashlib.md5(f"{key}{salt}".encode()).hexdigest()[:15], 16) / 2.0**60


def test_dbscan_core_matches_bruteforce(spark, sf_small):
    """Classification recomputed with a full O(n^2) distance scan —
    the grid join must find exactly the same neighborhoods."""
    keys = [k for (k,) in _duck(sf_small, "SELECT c_custkey FROM '$SF/customer.parquet'")]
    pts = {k: (_u(k, "dbx") * 100.0, _u(k, "dby") * 100.0) for k in keys}
    eps2 = 1.5 * 1.5
    nn = {}
    for p, (px, py) in pts.items():
        nn[p] = sum(
            1
            for q, (qx, qy) in pts.items()
            if round((px - qx) ** 2 + (py - qy) ** 2, 6) <= eps2
        )
    cores = {p for p, c in nn.items() if c >= 4}
    border = {
        p
        for p in pts
        if p not in cores
        and any(
            q in cores
            and round((pts[p][0] - pts[q][0]) ** 2 + (pts[p][1] - pts[q][1]) ** 2, 6)
            <= eps2
            for q in pts
        )
    }
    classes = defaultdict(list)
    for p in pts:
        cls = "core" if p in cores else "border" if p in border else "noise"
        classes[cls].append(nn[p])
    got = {r["cls"]: r for r in _q_dbscan_core(spark, sf_small).collect()}
    assert set(got) == {c for c, v in classes.items() if v}
    for cls, nns in classes.items():
        if not nns:
            continue
        assert got[cls]["n_points"] == len(nns), cls
        assert abs(got[cls]["mean_neighbors"] - sum(nns) / len(nns)) < 1e-5


def test_srm_check_matches_bruteforce(spark, sf_small):
    keys = [k for (k,) in _duck(sf_small, "SELECT c_custkey FROM '$SF/customer.parquet'")]
    na = sum(
        1 for k in keys if hashlib.md5(f"{k}srm".encode()).hexdigest()[0] in "01234567"
    )
    n = len(keys)
    e = n / 2.0
    chi2 = (na - e) ** 2 / e + ((n - na) - e) ** 2 / e
    got = _q_srm_check(spark, sf_small).collect()[0]
    assert got["n_units"] == n and got["n_a"] == na and got["n_b"] == n - na
    assert abs(got["chi2"] - chi2) < 1e-5
    assert got["srm_flag"] == (chi2 > 3.841459)


def test_graph_stats_matches_bruteforce(spark, sf_small):
    edges = {(r["src"], r["dst"]) for r in _trade_edges_topk(spark, sf_small).collect()}
    nodes = {x for e in edges for x in e}
    recip = sum(1 for s, d in edges if (d, s) in edges)
    outd = defaultdict(int)
    for s, _ in edges:
        outd[s] += 1
    got = _q_graph_stats(spark, sf_small).collect()[0]
    assert got["n_nodes"] == len(nodes)
    assert got["n_edges"] == len(edges)
    assert abs(got["reciprocity"] - recip / len(edges)) < 1e-6
    assert abs(got["density"] - len(edges) / (len(nodes) * (len(nodes) - 1))) < 1e-6
    assert abs(got["mean_out_degree"] - len(edges) / len(outd)) < 1e-6
    assert got["max_out_degree"] == max(outd.values())
    assert 0.0 <= got["reciprocity"] <= 1.0


def test_higher_moments_match_numpy(spark, sf_small):
    rows = _duck(
        sf_small,
        "SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) "
        "FROM '$SF/events.parquet'",
    )
    by_t = defaultdict(list)
    for t, v in rows:
        by_t[t].append(v)
    got = {r["event_type"]: r for r in _q_higher_moments(spark, sf_small).collect()}
    assert set(got) == set(by_t)
    for t, vs in by_t.items():
        a = np.array(vs)
        m2 = a.var()  # population
        m3 = ((a - a.mean()) ** 3).mean()
        m4 = ((a - a.mean()) ** 4).mean()
        r = got[t]
        assert r["n_events"] == len(a)
        assert abs(r["mean_value"] - a.mean()) < 1e-4
        assert abs(r["skewness"] - m3 / m2**1.5) < 1e-4
        assert abs(r["excess_kurtosis"] - (m4 / m2**2 - 3)) < 1e-4
