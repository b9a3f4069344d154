"""r4 wave C pins: quantile bucketing, K-fold target encoding, lexical
diversity, Flesch readability, Croston intermittent demand — each
validated against an independent driver-side brute force."""

from __future__ import annotations

import hashlib
import re
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


def test_quantile_bucketing_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_stats import _QB_BUCKETS, _q_quantile_bucketing

    li = scan(spark, Catalog(sf_small), "lineitem").collect()
    rows = sorted(
        (_cents(r["l_extendedprice"]), r["l_orderkey"], r["l_linenumber"]) for r in li
    )
    n = len(rows)
    buckets: dict = defaultdict(list)
    for i, (x, *_k) in enumerate(rows):
        buckets[i * _QB_BUCKETS // n].append(x)
    got = {r["bucket"]: r for r in _q_quantile_bucketing(spark, sf_small).collect()}
    assert set(got) == set(buckets)
    total = 0
    for b, xs in buckets.items():
        assert got[b]["n_rows"] == len(xs)
        assert got[b]["lo"] == min(xs) / 100.0
        assert got[b]["hi"] == max(xs) / 100.0
        assert got[b]["total"] == sum(xs) / 100.0
        total += len(xs)
    assert total == n  # equi-depth partition covers everything once
    sizes = sorted(len(v) for v in buckets.values())
    assert sizes[-1] - sizes[0] <= 1  # depths within 1 of each other


def test_target_encoding_is_leakage_free_and_exact(spark, sf_small):
    from dbt_lab_spark.workload_stats import _TE_FOLDS, _q_target_encoding

    orders = scan(spark, Catalog(sf_small), "orders").collect()
    per: dict = defaultdict(lambda: [0, 0])  # (cat, fold) -> [n, sum]
    for r in orders:
        fold = int(hashlib.md5(str(r["o_orderkey"]).encode()).hexdigest()[:15], 16) % _TE_FOLDS
        k = (r["o_orderpriority"], fold)
        per[k][0] += 1
        per[k][1] += _cents(r["o_totalprice"])
    tot: dict = defaultdict(lambda: [0, 0])
    for (cat, _f), (nf, sf_) in per.items():
        tot[cat][0] += nf
        tot[cat][1] += sf_
    got = {(r["cat"], r["fold"]): r for r in _q_target_encoding(spark, sf_small).collect()}
    assert set(got) == set(per)
    for (cat, fold), (nf, sf_) in per.items():
        nc, sc = tot[cat]
        oof = (sc - sf_) / (nc - nf) / 100.0
        g = got[(cat, fold)]
        assert g["n_rows"] == nf
        assert g["oof_mean"] == _r(oof, 4)
        # leakage-free: the fold's own rows contribute nothing (4dp
        # rounding of oof_mean bounds the reconstruction error)
        assert abs(g["oof_mean"] * 100 * (nc - nf) - (sc - sf_)) <= 0.5e-4 * 100 * (nc - nf) + 1e-6


def test_type_token_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_stats import _q_type_token

    docs = scan(spark, Catalog(sf_small), "documents").collect()
    cnt: dict = defaultdict(Counter)
    for r in docs:
        cnt[r["source"]].update(t for t in r["text"].lower().strip().split() if t)
    got = {r["source"]: r for r in _q_type_token(spark, sf_small).collect()}
    assert set(got) == set(cnt)
    for s, c in cnt.items():
        g = got[s]
        assert g["n_tokens"] == sum(c.values())
        assert g["n_types"] == len(c)
        assert g["n_hapax"] == sum(1 for v in c.values() if v == 1)
        assert g["ttr"] == _r(len(c) / sum(c.values()), 6)


def test_flesch_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_stats import _q_flesch

    docs = scan(spark, Catalog(sf_small), "documents").collect()
    agg: dict = defaultdict(lambda: [0, 0, 0, 0])  # docs, words, sents, sylls
    for r in docs:
        low = r["text"].lower().strip()
        w = len(re.split(r"\s+", low))
        s = max(1, len(re.findall(r"[.!?]+", low)))
        y = len(re.findall(r"[aeiouy]+", low))
        a = agg[r["source"]]
        a[0] += 1
        a[1] += w
        a[2] += s
        a[3] += y
    got = {r["source"]: r for r in _q_flesch(spark, sf_small).collect()}
    assert set(got) == set(agg)
    for s, (nd, sw, ss, sy) in agg.items():
        g = got[s]
        assert (g["n_docs"], g["n_words"], g["n_sentences"], g["n_syllables"]) == (
            nd, sw, ss, sy,
        )
        score = 206.835 - 1.015 * (sw / ss) - 84.6 * (sy / sw)
        assert g["flesch"] == _r(score, 4)


def test_croston_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_timeseries import _CROSTON_TOPK, _q_croston

    li = scan(spark, Catalog(sf_small), "lineitem").collect()
    daily: dict = defaultdict(int)
    for r in li:
        d = int(r["l_shipdate"].timestamp() * 1000) // 86400000
        daily[(r["l_partkey"], d)] += _cents(r["l_quantity"])
    per: dict = defaultdict(lambda: [0, 0, None, None])  # k, sq, d0, d1
    for (pk, d), q in daily.items():
        p = per[pk]
        p[0] += 1
        p[1] += q
        p[2] = d if p[2] is None else min(p[2], d)
        p[3] = d if p[3] is None else max(p[3], d)
    cand = {pk: v for pk, v in per.items() if v[0] >= 2}
    ranked = sorted(cand.items(), key=lambda kv: (-kv[1][0], kv[0]))[:_CROSTON_TOPK]
    got = _q_croston(spark, sf_small).collect()
    assert [r["partkey"] for r in got] == [pk for pk, _ in ranked]
    for row, (pk, (k, sq, d0, d1)) in zip(got, ranked):
        size = sq / k / 100.0
        interval = (d1 - d0) / (k - 1.0)
        assert row["n_demand_days"] == k
        assert row["mean_size"] == _r(size, 6)
        assert row["mean_interval"] == _r(interval, 6)
        assert row["croston_rate"] == _r(size / interval, 6)
