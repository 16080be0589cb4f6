"""Round-4ac extension operators (SURVEY.md §2.43): semantic
invariants beyond the oracle hash — autocomplete vs python trie,
tfidf-cosine vs brute force, coverage grid completeness."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pandas as pd

from tests.conftest import SF_SMOKE, SF_T2


def test_autocomplete_matches_python(spark, queries):
    from census_postgres_py_spark.tables import t

    got = queries["text_prefix_autocomplete"](spark, SF_SMOKE).toPandas()
    docs = t(spark, SF_SMOKE, "documents").select("text").collect()
    cnt = Counter()
    for r in docs:
        cnt.update(w for w in r["text"].split(" ") if w)
    by_prefix = defaultdict(list)
    for term, c in cnt.items():
        for p in range(2, 6):
            if len(term) >= p:
                by_prefix[term[:p]].append((-c, term))
    expected = {}
    for prefix, cands in by_prefix.items():
        for rn, (negc, term) in enumerate(sorted(cands)[:3], 1):
            expected[(prefix, term)] = (-negc, rn)
    got_map = {
        (r["prefix"], r["term"]): (r["term_count"], r["rn"])
        for _, r in got.iterrows()
    }
    assert got_map == expected


def test_autocomplete_prefixes_are_consistent(spark, queries):
    got = queries["text_prefix_autocomplete"](spark, SF_T2).toPandas()
    for _, r in got.iterrows():
        assert r["term"].startswith(r["prefix"])
        assert 2 <= len(r["prefix"]) <= 5
    assert got.groupby("prefix")["rn"].max().le(3).all()


def test_tfidf_cosine_matches_bruteforce(spark, queries):
    from census_postgres_py_spark.tables import t

    got = queries["dedup_tfidf_cosine"](spark, SF_SMOKE).toPandas()
    docs = t(spark, SF_SMOKE, "documents").select(
        "doc_id", "lang", "text"
    ).collect()
    tf = {}
    df = Counter()
    lang = {}
    for r in docs:
        c = Counter(w for w in r["text"].split(" ") if w)
        tf[r["doc_id"]] = c
        lang[r["doc_id"]] = r["lang"]
        df.update(c.keys())
    n = len(docs)
    sig = {}
    for d, c in tf.items():
        cells = []
        for term, f in c.items():
            w = math.floor(f * math.log(n / df[term]) * 1e6 + 0.5)
            if w > 0:
                cells.append((-w, term))
        top = sorted(cells)[:5]
        sig[d] = {term: -negw for negw, term in top}
    expected = {}
    ids = sorted(sig)
    for i, da in enumerate(ids):
        for db in ids[i + 1 :]:
            if lang[da] != lang[db]:
                continue
            shared = set(sig[da]) & set(sig[db])
            if not shared:
                continue
            dot = sum(sig[da][t_] * sig[db][t_] for t_ in shared)
            na = math.sqrt(sum(w * w for w in sig[da].values()))
            nb = math.sqrt(sum(w * w for w in sig[db].values()))
            cos = dot / na / nb
            if cos >= 0.5:
                expected[(da, db)] = math.floor(cos * 1e6 + 0.5) / 1e6
    got_map = {
        (r["da"], r["db"]): r["cos_sim"] for _, r in got.iterrows()
    }
    assert set(got_map) == set(expected)
    for k in expected:
        assert abs(got_map[k] - expected[k]) < 2e-6


def test_tfidf_cosine_prefix_and_small_vocab_plans_agree(
    spark, queries, monkeypatch
):
    """r9 plan gate: the fixture corpus takes the single-pass
    small-vocab plan; patching ext_round4ac._SMALL_VOCAB_MAX to 0
    exercises the prefix+bound plan. Both must return byte-identical
    pairs — the gate is a physical-plan choice, never a semantic one.
    (This is also the prefix path's standing coverage now that every
    small fixture routes to the single-pass plan.) A spy on the
    single-pass builder pins which plan each run took."""
    from census_postgres_py_spark.operators import ext_round4ac

    calls = []
    real_small = ext_round4ac._tfidf_cosine_small_vocab

    def spy(*args):
        calls.append(1)
        return real_small(*args)

    monkeypatch.setattr(ext_round4ac, "_tfidf_cosine_small_vocab", spy)

    def run():
        df = queries["dedup_tfidf_cosine"](spark, SF_SMOKE)
        return sorted(map(tuple, df.collect()))

    small = run()
    assert len(calls) == 1
    monkeypatch.setattr(ext_round4ac, "_SMALL_VOCAB_MAX", 0)
    prefix = run()
    assert len(calls) == 1
    assert small and small == prefix


def test_coverage_matrix_matches_pandas(spark, queries):
    from census_postgres_py_spark.tables import t

    got = queries["dq_coverage_matrix"](spark, SF_T2).toPandas()
    o = t(spark, SF_T2, "orders").toPandas()
    c = t(spark, SF_T2, "customer").toPandas()
    n = t(spark, SF_T2, "nation").toPandas()
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    j["m"] = pd.to_datetime(j["o_orderdate"]).dt.to_period("M")
    observed = set(zip(j["c_nationkey"], j["m"]))
    months = sorted(j["m"].unique())
    expected_gaps = {
        (nk, m)
        for nk in n["n_nationkey"]
        for m in months
        if (nk, m) not in observed
    }
    got["m"] = (
        pd.to_datetime(got["month_ms"], unit="ms").dt.to_period("M")
    )
    got_gaps = set(zip(got["n_nationkey"], got["m"]))
    assert got_gaps == expected_gaps
