"""r4 wave G pins: language confusion, length percentiles, Heaps' law,
cross-source dup contamination — independent driver-side brute forces."""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

from dbt_lab_spark.catalog import Catalog
from dbt_lab_spark.operators.scan import scan

_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "für"],
    "fr": ["le", "la", "les", "et", "est", "une", "pour", "dans", "que", "des"],
    "es": ["el", "la", "los", "y", "es", "una", "para", "en", "que", "por"],
}


def _predict(text: str) -> str:
    toks = set(text.lower().strip().split())
    best, score = "und", 0
    for lang, words in _MARKERS.items():
        s = len(toks & set(words))
        if s > score:
            best, score = lang, s
    return best


def test_lang_confusion_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_stats import _q_lang_confusion

    docs = scan(spark, Catalog(sf_small), "documents").collect()
    exp: Counter = Counter((r["lang"], _predict(r["text"])) for r in docs)
    got = {
        (r["declared"], r["predicted"]): r
        for r in _q_lang_confusion(spark, sf_small).collect()
    }
    assert {k: v["n_docs"] for k, v in got.items()} == dict(exp)
    for (d, p), r in got.items():
        assert r["agree"] == (d == p)
    assert sum(exp.values()) == len(docs)  # every doc lands in one cell


def test_length_profile_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_stats import _q_length_profile

    docs = scan(spark, Catalog(sf_small), "documents").collect()
    per: dict = defaultdict(list)
    for r in docs:
        per[r["source"]].append(len(re.split(r"\s+", r["text"].lower().strip())))
    got = {r["source"]: r for r in _q_length_profile(spark, sf_small).collect()}
    assert set(got) == set(per)
    for s, lens in per.items():
        lens.sort()
        n = len(lens)
        g = got[s]
        assert g["n_docs"] == n
        assert g["p10"] == lens[max(1, (n + 1) // 10) - 1]
        assert g["p50"] == lens[(n + 1) // 2 - 1]
        assert g["p90"] == lens[min(n, 9 * (n + 1) // 10) - 1]
        assert g["p10"] <= g["p50"] <= g["p90"]


def test_heaps_law_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.workload_stats import _HEAPS_PREFIXES, _q_heaps_law

    docs = sorted(
        scan(spark, Catalog(sf_small), "documents").collect(), key=lambda r: r["doc_id"]
    )
    nd = len(docs)
    cum_tokens: dict = defaultdict(int)
    first: dict = {}
    for rk, r in enumerate(docs, start=1):
        b = math.ceil(rk * _HEAPS_PREFIXES / nd)
        for t in r["text"].lower().strip().split():
            if not t:
                continue
            cum_tokens[b] += 1
            first.setdefault(t, b)
    vocab_per_b: Counter = Counter(first.values())
    ct = cv = 0
    rows = []
    for b in sorted(cum_tokens):
        ct += cum_tokens[b]
        cv += vocab_per_b.get(b, 0)
        rows.append((b, ct, cv))
    lx = [
        Decimal(repr(math.log(t))).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        for _, t, _ in rows
    ]
    ly = [
        Decimal(repr(math.log(v))).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        for _, _, v in rows
    ]
    k = float(len(rows))
    sx, sy = float(sum(lx)), float(sum(ly))
    sxx = float(sum(a * a for a in lx))
    sxy = float(sum(a * b_ for a, b_ in zip(lx, ly)))
    beta = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    got = _q_heaps_law(spark, sf_small).collect()
    assert [(r["prefix_decile"], r["cum_tokens"], r["cum_vocab"]) for r in got] == rows
    for r in got:
        assert abs(r["heaps_beta"] - beta) < 1e-5
        # sub-linear growth; == 0 on this synthetic corpus because its
        # 31-word vocabulary saturates inside the first prefix
        assert 0.0 <= r["heaps_beta"] < 1.0


def test_cross_source_dups_matches_bruteforce(spark, sf_small):
    from dbt_lab_spark.llm.dedup import minhash_dedup_pairs
    from dbt_lab_spark.workload_stats import _q_cross_source_dups

    docs = scan(spark, Catalog(sf_small), "documents", ["doc_id", "text"])
    src = {
        r["doc_id"]: r["source"]
        for r in scan(spark, Catalog(sf_small), "documents", ["doc_id", "source"]).collect()
    }
    pairs = minhash_dedup_pairs(
        docs, num_hashes=16, shingle_k=3, num_bands=4, threshold=0.7, base_hash="md5"
    ).collect()
    exp: Counter = Counter(
        tuple(sorted((src[r["id_a"]], src[r["id_b"]]))) for r in pairs
    )
    got = {
        (r["source_1"], r["source_2"]): r
        for r in _q_cross_source_dups(spark, sf_small).collect()
    }
    assert {k: v["n_pairs"] for k, v in got.items()} == dict(exp)
    for (a, b), r in got.items():
        assert r["cross_source"] == (a != b)
