"""r4 wave F pins: n-gram novelty, near-zero-variance audit, HHI,
IQR fences, cart abandonment — independent driver-side brute forces."""

from __future__ import annotations

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


def _shingles(text: str, k: int = 3) -> set:
    toks = text.lower().strip().split()
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def test_ngram_novelty_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_stats import _q_ngram_novelty

    docs = scan(spark, Catalog(sf_small), "documents").collect()
    first: dict = {}
    for r in sorted(docs, key=lambda r: r["doc_id"]):
        for g in _shingles(r["text"]):
            first.setdefault(g, r["doc_id"])
    agg: dict = defaultdict(lambda: [0, 0])
    for r in docs:
        for g in _shingles(r["text"]):
            a = agg[r["source"]]
            a[0] += 1
            if first[g] == r["doc_id"]:
                a[1] += 1
    got = {r["source"]: r for r in _q_ngram_novelty(spark, sf_small).collect()}
    assert set(got) == set(agg)
    for s, (n, nov) in agg.items():
        g = got[s]
        assert (g["n_shingle_occurrences"], g["n_novel"]) == (n, nov)
        assert g["novelty"] == _r(nov / n, 6)
    # global invariant: total novel == total distinct shingles
    assert sum(v[1] for v in agg.values()) == len(first)


def test_nzv_audit_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_stats import _NZV_COLS, _q_nzv_audit

    li = scan(spark, Catalog(sf_small), "lineitem").collect()
    got = {r["feature"]: r for r in _q_nzv_audit(spark, sf_small).collect()}
    assert set(got) == set(_NZV_COLS)
    for c in _NZV_COLS:
        cnt = Counter(str(r[c]) for r in li)
        tops = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        top1 = tops[0][1]
        top2 = tops[1][1] if len(tops) > 1 else 0
        g = got[c]
        assert g["n"] == len(li) and g["ndv"] == len(cnt)
        assert (g["top1"], g["top2"]) == (top1, top2)
        fr = top1 / (top2 or 1)
        assert g["freq_ratio"] == _r(fr, 4)
        assert g["near_zero_variance"] == (fr > 19.0 and len(cnt) / len(li) < 0.1)
    # the string columns (3 and 2 values over thousands of rows) must
    # NOT be flagged by the frequency rule alone when balanced
    assert not got["l_quantity"]["near_zero_variance"]


def test_hhi_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_stats import _q_hhi

    sup = {
        r["s_suppkey"]: r["s_nationkey"]
        for r in scan(spark, Catalog(sf_small), "supplier").collect()
    }
    rev: dict = defaultdict(int)
    for r in scan(spark, Catalog(sf_small), "lineitem").collect():
        p = Decimal(repr(r["l_extendedprice"])).quantize(
            Decimal("0.01"), rounding=ROUND_HALF_UP
        )
        d = Decimal(repr(r["l_discount"])).quantize(
            Decimal("0.01"), rounding=ROUND_HALF_UP
        )
        cents = int(p * (1 - d) * 100)
        rev[(sup[r["l_suppkey"]], r["l_suppkey"])] += cents
    per_nation: dict = defaultdict(list)
    for (nk, _sk), v in rev.items():
        per_nation[nk].append(v)
    got = {r["nationkey"]: r for r in _q_hhi(spark, sf_small).collect()}
    assert set(got) == set(per_nation)
    for nk, rs in per_nation.items():
        tot = sum(rs)
        hhi = sum(v * v for v in rs) / (tot * tot)
        g = got[nk]
        assert g["n_suppliers"] == len(rs)
        assert abs(g["hhi"] - hhi) < 1e-9
        assert 1.0 / len(rs) - 1e-9 <= g["hhi"] <= 1.0 + 1e-9  # HHI bounds


def test_iqr_outliers_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_stats import _q_iqr_outliers

    groups: dict = defaultdict(list)
    for r in scan(spark, Catalog(sf_small), "events").collect():
        groups[r["event_type"]].append(_cents(r["value"]))
    got = {r["event_type"]: r for r in _q_iqr_outliers(spark, sf_small).collect()}
    assert set(got) == set(groups)
    for t, xs in groups.items():
        xs.sort()
        n = len(xs)
        q1 = xs[max(1, (n + 1) // 4) - 1]
        q3 = xs[min(n, 3 * (n + 1) // 4) - 1]
        iqr = q3 - q1
        n_out = sum(1 for x in xs if 2 * x > 2 * q3 + 3 * iqr or 2 * x < 2 * q1 - 3 * iqr)
        g = got[t]
        assert g["q1"] == q1 / 100.0 and g["q3"] == q3 / 100.0
        assert g["n_rows"] == n and g["n_outliers"] == n_out


def test_abandonment_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_timeseries import _q_abandonment

    flags: dict = defaultdict(lambda: [0, 0])
    for r in scan(spark, Catalog(sf_small), "events").collect():
        if r["event_type"] not in ("click", "purchase"):
            continue
        d = int(r["ts"].timestamp() * 1000) // 86400000
        f = flags[(r["user_id"], d)]
        if r["event_type"] == "click":
            f[0] = 1
        else:
            f[1] = 1
    per_day: dict = defaultdict(lambda: [0, 0])
    for (_u, d), (c, p) in flags.items():
        if c:
            per_day[d][0] += 1
            per_day[d][1] += p
    got = {r["d"]: r for r in _q_abandonment(spark, sf_small).collect()}
    assert set(got) == set(per_day)
    for d, (nc, nv) in per_day.items():
        g = got[d]
        assert (g["n_clickers"], g["n_converted"]) == (nc, nv)
        assert g["abandonment_rate"] == _r(1.0 - nv / nc, 6)
        assert 0.0 <= g["abandonment_rate"] <= 1.0
