"""Self-differential checks for the near-dup family (SURVEY.md §5.2
item 3): the approximate paths are graded rows-only by the driver, so
these tests are what pins their quality — recall against the exact
twin / the injected mutations, and output invariants."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE, SF_T2

from census_postgres_py_spark.operators.dedup import DUP_OFFSET


def _pairs(df):
    return {(r["a_id"], r["b_id"]) for r in df.collect()}


@pytest.fixture(scope="module")
def ngram_pairs(spark, queries):
    return _pairs(queries["dedup_ngram_jaccard"](spark, SF_SMOKE))


@pytest.fixture(scope="module")
def minhash_pairs(spark, queries):
    return _pairs(queries["dedup_minhash"](spark, SF_SMOKE))


def _injected(pairs):
    return {p for p in pairs if p[1] - p[0] == DUP_OFFSET}


def test_minhash_finds_every_injected_pair(minhash_pairs):
    # 200 mutated copies are injected (doc_id < 200 -> doc_id + 1M);
    # drop-2-tokens keeps Jaccard >= ~0.9, far above the LSH knee, so
    # banding recall on them must be total.
    assert len(_injected(minhash_pairs)) == 200


def test_minhash_matches_exact_twin(minhash_pairs, ngram_pairs):
    # At this fixture's similarity profile the LSH candidate set
    # covers every >= 0.5-Jaccard pair, so after the exact re-check
    # minhash and the exact inverted-index twin agree exactly.
    assert minhash_pairs == ngram_pairs


def test_simhash_recall_on_injected(spark, queries):
    pairs = _pairs(queries["dedup_simhash"](spark, SF_SMOKE))
    found = len(_injected(pairs))
    # simhash@k=3 is the coarse screen: ~75% of drop-2-token
    # mutations land within Hamming 3 of the original (measured;
    # docstring in operators/dedup.py). Floor well below measurement
    # so fixture regeneration can't flap the suite.
    assert found >= 120, f"simhash found only {found}/200 injected pairs"


def test_embedding_cosine_invariants(spark, queries):
    rows = queries["dedup_embedding_cosine"](spark, SF_T2).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["a_id"] < r["b_id"]
        assert 0.45 <= r["cos_sim"] <= 1.0


def test_embedding_cosine_candidate_recall(spark, queries):
    """The matmul candidate stage must not lose a single pair the
    brute-force predicate would emit: re-derive the answer with a
    driver-side exact computation and compare sets."""
    import numpy as np

    from census_postgres_py_spark.tables import t

    rows = t(spark, SF_T2, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    ai, bi = np.nonzero(np.triu(sims >= 0.45, k=1))
    expect = {
        (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
        for i, j in zip(ai, bi)
    }
    got = _pairs(queries["dedup_embedding_cosine"](spark, SF_T2))
    assert got == expect


def test_clusters_cc_collapses_generations(spark, queries):
    """Every original doc d (< 200) must share ONE cluster with its two
    mutation generations (d+1M, d+2M) — i.e. the propagation loop
    reached the fixpoint, not just the direct pairs. (Naturally-similar
    original docs may merge clusters further, so the label can be
    another original's id, but it is always <= d and shared by all
    three generations.)"""
    rows = queries["dedup_clusters_cc"](spark, SF_SMOKE).collect()
    label = {r["doc_id"]: r["cluster_id"] for r in rows}
    originals = [d for d in label if d < 1_000_000]
    assert originals, "no original docs in output"
    for d in originals:
        assert label[d] <= d, (d, label[d])
        for gen in (1_000_000, 2_000_000):
            assert label.get(d + gen) == label[d], (d + gen, label[d])


def test_edit_distance_finds_every_injected_pair(spark, queries):
    # Suffix-deletion of 2 tokens is an edit distance of 6-18 chars on
    # this fixture, well under EDIT_D=32, and length-band blocking is
    # lossless — so all 200 injected pairs must surface.
    pairs = _pairs(queries["dedup_edit_distance"](spark, SF_SMOKE))
    assert len(_injected(pairs)) == 200
    # Every reported distance respects the length lower bound.
    for r in queries["dedup_edit_distance"](spark, SF_SMOKE).collect():
        assert 0 <= r["edit_dist"] <= 32


def test_containment_finds_every_injected_copy(spark, queries):
    # Every truncated copy is fully contained in its original:
    # (copy -> original) must appear with containment 1.0.
    rows = queries["dedup_containment"](spark, SF_SMOKE).collect()
    full = {
        (r["a_id"], r["b_id"]) for r in rows if r["containment"] == 1.0
    }
    copies = {(i + DUP_OFFSET, i) for i in range(200)}
    assert copies <= full


def test_containment_is_asymmetric(spark, queries):
    # containment(orig -> copy) < 1.0 (the two clipped shingles are
    # missing from the copy), while copy -> orig is exactly 1.0 — the
    # direction Jaccard can't distinguish.
    rows = queries["dedup_containment"](spark, SF_SMOKE).collect()
    by_pair = {(r["a_id"], r["b_id"]): r["containment"] for r in rows}
    forward = [
        by_pair.get((i, i + DUP_OFFSET)) for i in range(200)
    ]
    present = [c for c in forward if c is not None]
    assert present, "no orig->copy direction survived the 0.9 threshold"
    # < 1.0 for most originals; == 1.0 is legitimate when the clipped
    # trailing shingles also occur earlier in the doc (distinct shingle
    # sets then coincide), so assert the direction gap exists somewhere
    # rather than everywhere.
    assert any(c < 1.0 for c in present)


def test_containment_prefix_plan_matches_naive(spark, queries):
    # The prefix-filtered candidate plan must be row-identical to the
    # naive two-full-index join (the pigeonhole guarantee is recall=1,
    # the array_intersect re-score is the same |A∩B| the join counts).
    from pyspark.sql import functions as F

    from census_postgres_py_spark.operators.dedup import _corpus, _shingled

    shingled = _shingled(_corpus(spark, SF_SMOKE)[0])
    ex = shingled.select("doc_id", F.explode("shingles").alias("shingle"))
    a = ex.select(F.col("doc_id").alias("a_id"), "shingle")
    b = ex.select(F.col("doc_id").alias("b_id"), "shingle")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("a_id") != F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("common"))
    )
    na = shingled.select(
        F.col("doc_id").alias("a_id"), F.col("n_sh").alias("a_n")
    )
    cont = F.col("common").cast("double") / F.col("a_n")
    naive = (
        pairs.join(na, "a_id")
        .filter(cont >= 0.9)
        .select(
            "a_id",
            "b_id",
            F.col("common").cast("long").alias("common"),
            F.round(cont, 4).alias("containment"),
        )
    )
    got = sorted(
        map(tuple, queries["dedup_containment"](spark, SF_SMOKE).collect())
    )
    want = sorted(map(tuple, naive.collect()))
    assert got == want


def test_simhash_band_width_is_output_invariant(spark, queries):
    # The banding is candidate GENERATION only; the exact Hamming<=3
    # filter decides membership. So the op must equal the candidate-
    # free all-pairs answer computed straight off the fingerprints —
    # this is what licenses widening 8-bit bands to 16-bit (256x fewer
    # bucket collisions at scale) without touching output.
    from pyspark.sql import functions as F

    from census_postgres_py_spark.operators.dedup import _corpus, _simhash_fp

    fp = _simhash_fp(_corpus(spark, SF_SMOKE)[0])
    a = fp.select(F.col("doc_id").alias("a_id"), F.col("simhash").alias("a_fp"))
    b = fp.select(F.col("doc_id").alias("b_id"), F.col("simhash").alias("b_fp"))
    ham = F.bit_count(F.col("a_fp").bitwiseXOR(F.col("b_fp")))
    brute = (
        a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= 3)
    )
    got = sorted(
        map(tuple, queries["dedup_simhash"](spark, SF_SMOKE).collect())
    )
    want = sorted(map(tuple, brute.collect()))
    assert got == want


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_shingle_checkpoint_gate_is_output_invariant(
    spark, queries, monkeypatch
):
    # Force the shared-shingled checkpoint gate OPEN at fixture scale
    # and pin that every gated op's output is unchanged — the
    # checkpoint is a materialization point, never a semantic one. The
    # plan shows whether the gate opened: a localCheckpoint'd frame
    # scans as ExistingRDD.
    from census_postgres_py_spark.operators import dedup

    ids = (
        "dedup_ngram_jaccard",
        "dedup_containment",
        "dedup_simhash",
        "dedup_minhash",
    )
    base = {}
    for q in ids:
        df = queries[q](spark, SF_SMOKE)
        assert "ExistingRDD" not in _executed_plan(df), q
        base[q] = sorted(map(tuple, df.collect()))
    monkeypatch.setattr(dedup, "_SHINGLE_CHECKPOINT_MIN_DOCS", 1)
    for q in ids:
        df = queries[q](spark, SF_SMOKE)
        assert "ExistingRDD" in _executed_plan(df), q
        assert sorted(map(tuple, df.collect())) == base[q], q


def test_hashed_verify_election_is_output_invariant(
    spark, queries, monkeypatch
):
    """r10 VERDICT item 7 + the r11 volume floor: with the shingle
    gate forced open, _elect_hashed_verify picks the verify mode from
    (volume floor, collision budget). All three reachable states —
    default election (volume floor rejects the tiny fixture → raw),
    forced-hashed (floor 0), and forced-raw (budget 0) — must
    reproduce the fixture output exactly: the election is a
    perf/provable-exactness switch, never a semantic one. A spy on the
    election pins that each state really took its branch."""
    from census_postgres_py_spark.operators import dedup

    ids = ("dedup_ngram_jaccard", "dedup_containment")
    base = {
        q: sorted(map(tuple, queries[q](spark, SF_SMOKE).collect()))
        for q in ids
    }
    elected = []
    real_elect = dedup._elect_hashed_verify

    def spy(*args):
        elected.append(real_elect(*args))
        return elected[-1]

    monkeypatch.setattr(dedup, "_elect_hashed_verify", spy)
    monkeypatch.setattr(dedup, "_SHINGLE_CHECKPOINT_MIN_DOCS", 1)

    def check(state, hashed):
        elected.clear()
        for q in ids:
            got = sorted(map(tuple, queries[q](spark, SF_SMOKE).collect()))
            assert got == base[q], f"{q} ({state})"
        assert elected == [hashed] * len(ids), state

    # default election (fixture volume is far below the floor → raw)
    check("default election", False)
    # floor 0: hashed two-stage path forced on
    monkeypatch.setattr(dedup, "_HASHED_VERIFY_MIN_BYTES", 0)
    check("forced hashed path", True)
    # budget 0 overrides the floor: raw verify forced
    monkeypatch.setattr(dedup, "_COLLISION_BUDGET", 0)
    check("forced raw path", False)


#: registered id -> the frame function its adapter calls with
#: (docs, n_docs); n_docs decides the shingle checkpoint gate.
_GATED = {
    "dedup_ngram_jaccard": "ngram_jaccard",
    "dedup_minhash": "minhash",
    "dedup_simhash": "simhash",
    "dedup_containment": "containment",
    "dedup_clusters_cc": "clusters_cc",
    "pipeline_dedup_e2e": "survivors",
}


@pytest.mark.parametrize("qid", sorted(_GATED))
def test_gate_row_bound_covers_the_corpus(spark, queries, monkeypatch, qid):
    """The footer bound an adapter hands its frame function must cover
    the corpus it hands over: a 2-generation bound for a 3-generation
    corpus would keep the checkpoint gate shut past its threshold."""
    from census_postgres_py_spark.operators import dedup

    seen = []
    monkeypatch.setattr(
        dedup, _GATED[qid], lambda docs, n_docs: seen.append((docs, n_docs))
    )
    queries[qid](spark, SF_SMOKE)
    [(docs, n_docs)] = seen
    assert n_docs >= docs.count(), qid


def test_survivors_run_uncapped_without_patching(spark):
    """The e2e survivor step over all fixture documents plus both
    mutation generations equals the pipeline_dedup_e2e oracle with its
    doc_id < 200 cap removed — called as a plain frame function, so the
    module is left exactly as it was."""
    import duckdb

    from census_postgres_py_spark import stats
    from census_postgres_py_spark.operators import dedup
    from census_postgres_py_spark.tables import t

    before = dict(vars(dedup))
    docs = dedup._with_generations(
        t(spark, SF_SMOKE, "documents").select("doc_id", "text"), (2, 4)
    )
    n_docs = 3 * stats.rows(SF_SMOKE, "documents")
    got = sorted(map(tuple, dedup.survivors(docs, n_docs).collect()))

    sql = dedup._ORACLE_DEDUP_E2E.replace(" WHERE doc_id < 200", "")
    assert "< 200" not in sql
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    want = sorted(con.execute(sql).fetchall())
    assert got == want
    assert sum(n for _, _, n in got) == n_docs  # every document, uncapped
    assert vars(dedup).keys() == before.keys()
    assert all(vars(dedup)[k] is v for k, v in before.items())


def test_collision_budget_bound_arithmetic(spark):
    """The budget gate's birthday bound must keep the MEASURED decade
    point (1.89e9 votes, ≤600-shingle docs → p ≤ 2e-5) on the hashed
    path under the default budget, and trip once votes·max_n²/2⁶⁵
    crosses it — pinned against the module constants so a future
    budget tweak is a conscious choice."""
    from census_postgres_py_spark.operators.dedup import _COLLISION_BUDGET

    bound = lambda votes, max_n: votes * max_n**2 / 2.0**65  # noqa: E731
    assert bound(1.89e9, 600) <= _COLLISION_BUDGET  # hub-100x decade
    assert bound(1.89e9, 600) * 50 <= _COLLISION_BUDGET  # ≥50x headroom
    assert bound(4e13, 1000) > _COLLISION_BUDGET  # eventually trips


def test_hashed_verify_volume_floor_arithmetic(spark):
    """The volume floor must separate the two measured regimes: the
    web-10x corpus (votes 1.34e6, avg 47 shingles — raw verify was
    2.6x FASTER there) stays below the floor, the hub-100x decade
    (votes 1.89e9, avg ~hundreds — raw ENOSPC'd) far above it. Pinned
    against the module constants so a floor tweak is a conscious
    choice."""
    from census_postgres_py_spark.operators.dedup import (
        _EST_BYTES_PER_SHINGLE,
        _HASHED_VERIFY_MIN_BYTES,
    )

    est = lambda votes, avg_n: votes * 2 * avg_n * _EST_BYTES_PER_SHINGLE  # noqa: E731
    assert est(1.34e6, 47) < _HASHED_VERIFY_MIN_BYTES  # web-10x → raw
    assert est(1.34e6, 47) * 10 < _HASHED_VERIFY_MIN_BYTES  # margin
    assert est(1.89e9, 200) > _HASHED_VERIFY_MIN_BYTES  # hub → hashed
    assert est(1.89e9, 200) > 10 * _HASHED_VERIFY_MIN_BYTES  # margin


def test_embedding_cosine_has_no_driver_collect():
    """Round-2 verdict scale-killer: the op collected the whole
    embeddings table to the driver. The block-pair rewrite must keep
    the table distributed — no .collect() in the operator at all."""
    import inspect

    from census_postgres_py_spark.operators import dedup

    src = inspect.getsource(dedup.dedup_embedding_cosine)
    assert ".collect()" not in src, "driver-side collect reintroduced"


def test_embedding_cosine_block_tiling_covers_all_pairs(spark, queries):
    """Every unordered id pair must land in exactly one block-pair
    tile: the distributed result equals the brute-force answer (the
    oracle re-checks values; this pins pair COVERAGE specifically)."""
    rows = queries["dedup_embedding_cosine"](spark, SF_SMOKE).collect()
    pairs = [(r["a_id"], r["b_id"]) for r in rows]
    assert len(pairs) == len(set(pairs)), "a pair was emitted twice"
    assert all(a < b for a, b in pairs)


def test_embedding_cosine_refuses_all_pairs_blowup(spark, monkeypatch):
    """The exact baseline must fail fast past 1e5 vectors with the IVF
    scale path named (r4 VERDICT item 5) — not melt a cluster."""
    from census_postgres_py_spark.operators import dedup as mod

    class FakeCount:
        def select(self, *a, **k):
            return self

        def count(self):
            return 100_001

    monkeypatch.setattr(mod, "t", lambda *a, **k: FakeCount())
    with pytest.raises(ValueError, match="join_similarity_ivf"):
        mod.dedup_embedding_cosine(spark, SF_SMOKE)


def test_min_label_cc_chain_converges_in_log_rounds(spark):
    """Pointer doubling must collapse a diameter-80 chain — plain
    propagation would need 80 rounds and trip the 32-round cap, so
    passing proves the O(log diameter) behavior, not just the labels."""
    from pyspark.sql import functions as F

    from census_postgres_py_spark.operators.dedup import min_label_cc

    n = 81  # one component: 0-1-2-...-80, plus an isolated node 1000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(i + 1, i) for i in range(n - 1)],
        "src long, dst long",
    )
    nodes = spark.range(n).select(F.col("id").alias("doc_id")).unionByName(
        spark.createDataFrame([(1000,)], "doc_id long")
    )
    labels = {r["doc_id"]: r["label"] for r in min_label_cc(edges, nodes).collect()}
    assert all(labels[i] == 0 for i in range(n))
    assert labels[1000] == 1000


@pytest.mark.parametrize("seed", [7, 41, 1337])
def test_prefix_filtered_index_equals_naive_reference(spark, seed):
    """The PPJoin-style prefix filter must be EXACT: on corpora built
    from a tiny vocabulary (every shingle hot — the filter's worst
    case), its output equals a brute-force Python reference pair for
    pair, including the common counts and rounded Jaccards."""
    import itertools
    import random

    from census_postgres_py_spark.operators.dedup import (
        _inverted_index_jaccard,
        _shingled,
    )

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(8)]
    docs = []
    for doc_id in range(40):
        base = [rng.choice(vocab) for _ in range(rng.randint(3, 20))]
        docs.append((doc_id, " ".join(base)))
        if rng.random() < 0.5:  # planted near-dup: drop the tail token
            docs.append((1000 + doc_id, " ".join(base[:-1]) or base[0]))

    def sh(text):
        w = text.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    expected = {}
    for (a, ta), (b, tb) in itertools.combinations(docs, 2):
        a_id, b_id = min(a, b), max(a, b)
        sa, sb = (sh(ta), sh(tb)) if a_id == a else (sh(tb), sh(ta))
        if not sa or not sb:
            continue
        common = len(sa & sb)
        union = len(sa | sb)
        if union and common / union >= 0.5:
            expected[(a_id, b_id)] = (common, round(common / union, 4))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["a_id"], r["b_id"]): (r["common"], r["jaccard"])
        for r in _inverted_index_jaccard(_shingled(df)).collect()
    }
    assert got == expected


def test_hashed_verify_matches_raw_verify(spark):
    """The two-stage verify (hashed-array prefilter + raw-shingle
    rescore of survivors) must be row-identical to a single-stage
    raw-array verify on the fixture corpus — i.e. xxhash64 is
    collision-free there, so the hashed stage's survivor set equals the
    true set and the ~25-100x shuffle-byte cut is free (r9 VERDICT
    item 2; collision argument in _hashed_prefilter's docstring)."""
    from pyspark.sql import functions as F

    from census_postgres_py_spark.operators.dedup import (
        _corpus,
        _exact_jaccard_pairs,
        _shingled,
    )

    shingled = _shingled(_corpus(spark, SF_SMOKE)[0])

    # deterministic collision-freedom on this corpus: distinct shingles
    # <-> distinct hashes (the premise that makes the A/B an identity)
    ex = shingled.select(F.explode("shingles").alias("shingle")).distinct()
    n_shingles = ex.count()
    n_hashes = ex.select(F.xxhash64("shingle")).distinct().count()
    assert n_shingles == n_hashes

    # all unordered pairs as candidates: exercises the verify alone,
    # independent of any candidate-generation filter
    ids = shingled.select("doc_id")
    cand = (
        ids.select(F.col("doc_id").alias("a_id"))
        .crossJoin(ids.select(F.col("doc_id").alias("b_id")))
        .filter(F.col("a_id") < F.col("b_id"))
    )

    a = shingled.select(
        F.col("doc_id").alias("a_id"),
        F.col("shingles").alias("a_sh"),
        F.col("n_sh").alias("a_n"),
    )
    b = shingled.select(
        F.col("doc_id").alias("b_id"),
        F.col("shingles").alias("b_sh"),
        F.col("n_sh").alias("b_n"),
    )
    common = F.size(F.array_intersect("a_sh", "b_sh")).cast("long")
    jacc = common.cast("double") / (F.col("a_n") + F.col("b_n") - common)
    raw = (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .where(jacc >= 0.5)
        .select("a_id", "b_id", common.alias("common"),
                F.round(jacc, 4).alias("jaccard"))
    )
    want = sorted(map(tuple, raw.collect()))
    got = sorted(
        map(
            tuple,
            _exact_jaccard_pairs(shingled, cand, at_scale=True).collect(),
        )
    )
    assert got == want
    assert want  # the injected near-dups guarantee a non-empty check
