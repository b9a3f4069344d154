"""r4 wave D pins: Page-Hinkley, sign test, Cohen's d, Brier
decomposition, simplified silhouette, dup-cluster histogram — each
validated against an independent driver-side brute force."""

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


def _r(x: float, dp: int) -> float:
    q = Decimal(1).scaleb(-dp)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _daily_purchases(spark, sf) -> dict[int, int]:
    rows = scan(spark, Catalog(sf), "events").collect()
    daily: dict[int, int] = defaultdict(int)
    for r in rows:
        if r["event_type"] == "purchase":
            daily[int(r["ts"].timestamp() * 1000) // 86400000] += _cents(r["value"])
    return dict(daily)


def test_page_hinkley_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_timeseries import _q_page_hinkley

    daily = _daily_purchases(spark, sf_small)
    days = sorted(daily)
    cum = 0
    u = Decimal(0)
    min_u = Decimal(0)
    best = None
    for t, d in enumerate(days, start=1):
        x = daily[d]
        cum += x
        term = (float(x) * float(t) - float(cum)) / float(t) / 100.0
        u += Decimal(repr(term)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        min_u = min(min_u, u) if t > 1 else u
        ph = u - min_u
        if best is None or ph > best[1] or (ph == best[1] and d < best[0]):
            best = (d, ph)
    row = _q_page_hinkley(spark, sf_small).collect()[0]
    assert row["drift_day"] == best[0]
    assert row["ph_stat"] == float(best[1])
    assert row["ph_stat"] >= 0.0


def test_sign_test_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_timeseries import _q_sign_test

    daily = _daily_purchases(spark, sf_small)
    days = sorted(daily)
    pos = neg = 0
    for i in range(7, len(days)):
        a, b = daily[days[i]], daily[days[i - 7]]
        if a > b:
            pos += 1
        elif a < b:
            neg += 1
    row = _q_sign_test(spark, sf_small).collect()[0]
    assert (row["pos"], row["neg"]) == (pos, neg)
    assert row["chi2_cc"] == _r((abs(pos - neg) - 1) ** 2 / (pos + neg), 6)


def test_sign_test_lag_is_positional_not_calendar(spark, sf_small):
    """Documents the intended semantics: the lag is 7 OBSERVED days
    back in the ordered daily series (missing calendar days compress)."""
    from dbt_lab_spark.workload_timeseries import _q_sign_test

    daily = _daily_purchases(spark, sf_small)
    assert len(daily) > 7  # enough observed days for the lag to engage
    row = _q_sign_test(spark, sf_small).collect()[0]
    assert row["pos"] + row["neg"] <= len(daily) - 7


def test_cohens_d_matches_numpy(spark, sf_small):
    import numpy as np

    from dbt_lab_spark.workload_stats import _q_cohens_d

    rows = scan(spark, Catalog(sf_small), "events").collect()
    g1 = np.array([_cents(r["value"]) for r in rows if r["event_type"] == "purchase"], dtype=np.float64)
    g2 = np.array([_cents(r["value"]) for r in rows if r["event_type"] == "click"], dtype=np.float64)
    sp = math.sqrt(
        (g1.var(ddof=0) * len(g1) + g2.var(ddof=0) * len(g2)) / (len(g1) + len(g2) - 2)
    )
    d = (g1.mean() - g2.mean()) / sp
    row = _q_cohens_d(spark, sf_small).collect()[0]
    assert (row["n_purchase"], row["n_click"]) == (len(g1), len(g2))
    assert abs(row["cohens_d"] - d) < 1e-6
    assert row["mean_purchase"] == _r(float(g1.mean()) / 100.0, 4)


def test_brier_decomposition_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_stats import _BRIER_BINS, _q_brier_score

    cust = scan(spark, Catalog(sf_small), "customer").collect()
    urgent: dict = defaultdict(int)
    for r in scan(spark, Catalog(sf_small), "orders").collect():
        if r["o_orderpriority"] == "1-URGENT":
            urgent[r["o_custkey"]] = 1
    rows = sorted(
        (_cents(r["c_acctbal"]), r["c_custkey"], urgent.get(r["c_custkey"], 0))
        for r in cust
    )
    n = len(rows)
    bins: dict = defaultdict(lambda: [0, 0])
    pys = []
    for i, (_b, _k, y) in enumerate(rows):
        b = i * _BRIER_BINS // n
        bins[b][0] += 1
        bins[b][1] += y
        pys.append(((b + 0.5) / _BRIER_BINS, y))
    ybar = sum(y for _, y in pys) / n
    rel = sum(nb * ((b + 0.5) / _BRIER_BINS - yb / nb) ** 2 for b, (nb, yb) in bins.items()) / n
    res = sum(nb * (yb / nb - ybar) ** 2 for b, (nb, yb) in bins.items()) / n
    unc = ybar * (1 - ybar)
    brier_direct = sum((p - y) ** 2 for p, y in pys) / n
    row = _q_brier_score(spark, sf_small).collect()[0]
    assert row["n_customers"] == n
    assert abs(row["reliability"] - rel) < 1e-6
    assert abs(row["resolution"] - res) < 1e-6
    assert abs(row["uncertainty"] - unc) < 1e-6
    # Murphy identity: brier == rel - res + unc == mean (p-y)^2
    assert abs(row["brier"] - brier_direct) < 1e-6


def test_silhouette_matches_numpy_and_bounds(spark, sf_small):
    import numpy as np

    from dbt_lab_spark.llm.similarity import ivf_centroids
    from dbt_lab_spark.workload_stats import _q_silhouette

    emb = scan(spark, Catalog(sf_small), "embeddings").collect()
    cents = np.asarray(
        ivf_centroids(
            scan(spark, Catalog(sf_small), "embeddings"), num_centroids=8, iters=0, dim=64
        ),
        dtype=np.float64,
    )
    per: dict = defaultdict(list)
    for r in emb:
        v = np.asarray(r["embedding"], dtype=np.float64)
        nrm = np.linalg.norm(v) or 1.0
        nv = v / nrm
        sims = nv @ cents.T
        cl = int(np.argmax(sims))
        d = 1.0 - sims
        a = d[cl]
        b = min(d[j] for j in range(len(cents)) if j != cl)
        s = 0.0 if max(a, b) == 0 else (b - a) / max(a, b)
        per[cl].append(
            Decimal(repr(s)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )
    got = {r["cluster"]: r for r in _q_silhouette(spark, sf_small).collect()}
    assert set(got) == set(per)
    for cl, ss in per.items():
        g = got[cl]
        assert g["n_points"] == len(ss)
        mean = float(sum(ss, Decimal(0)) / len(ss))
        assert abs(g["mean_silhouette"] - mean) < 2e-6
        assert -1.0 - 1e-9 <= g["mean_silhouette"] <= 1.0 + 1e-9


def test_dup_cluster_sizes_union_find(spark, sf_small):
    from dbt_lab_spark.llm.dedup import minhash_dedup_pairs
    from dbt_lab_spark.workload_stats import _q_dup_cluster_sizes

    docs = scan(spark, Catalog(sf_small), "documents", ["doc_id", "text"])
    n_docs = docs.count()
    pairs = minhash_dedup_pairs(
        docs, num_hashes=16, shingle_k=3, num_bands=4, threshold=0.7, base_hash="md5"
    ).collect()
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r["id_a"]), find(r["id_b"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    sizes: dict = defaultdict(int)
    for x in list(parent):
        sizes[find(x)] += 1
    hist: dict = defaultdict(int)
    for s in sizes.values():
        hist[s] += 1
    hist[1] += n_docs - len(parent)
    got = {r["size"]: r["n_clusters"] for r in _q_dup_cluster_sizes(spark, sf_small).collect()}
    assert got == {s: c for s, c in hist.items() if c > 0}
    # mass check: every document is in exactly one cluster
    assert sum(s * c for s, c in got.items()) == n_docs
