"""Cluster-representative dedup: min-label propagation over near-dup pairs
(the linear-output path for dup-heavy corpora — see SCALING.md)."""

from __future__ import annotations

from stock_etl_pipeline_spark.operators.dedup import near_dup_keepers


def _keepers(spark, pairs, rounds=3):
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    out = near_dup_keepers(df, rounds=rounds)
    return {r["doc_id"]: r["keeper_id"] for r in out.collect()}


def test_clique_collapses_to_min_id(spark):
    got = _keepers(spark, [(1, 2), (1, 3), (2, 3)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_chain_within_rounds(spark):
    # diameter-3 path: 10-11, 11-12, 12-13 → all label 10 after 3 rounds
    got = _keepers(spark, [(10, 11), (11, 12), (12, 13)])
    assert got == {10: 10, 11: 10, 12: 10, 13: 10}


def test_convergence_certificate_passes_on_clique(spark):
    df = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "doc_a long, doc_b long")
    out = near_dup_keepers(df, rounds=3, verify_converged=True)
    assert {r["keeper_id"] for r in out.collect()} == {1}


def test_convergence_certificate_catches_long_chain(spark):
    # diameter-5 path: 3 rounds are NOT enough — the certificate must raise
    # instead of silently returning split labels
    import pytest

    chain = [(i, i + 1) for i in range(10, 15)]
    df = spark.createDataFrame(chain, "doc_a long, doc_b long")
    with pytest.raises(ValueError, match="diameter"):
        near_dup_keepers(df, rounds=3, verify_converged=True)
    # enough rounds → certificate passes and the chain collapses
    out = near_dup_keepers(df, rounds=5, verify_converged=True)
    assert {r["keeper_id"] for r in out.collect()} == {10}


def test_separate_components_stay_separate(spark):
    got = _keepers(spark, [(1, 2), (7, 8)])
    assert got == {1: 1, 2: 1, 7: 7, 8: 7}


def test_repartition_invariant(spark):
    pairs = [(i, i + 1) for i in range(0, 40, 2)]  # 20 disjoint pairs
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long").repartition(13)
    out = {r["doc_id"]: r["keeper_id"] for r in near_dup_keepers(df).collect()}
    for a, b in pairs:
        assert out[a] == a and out[b] == a


def test_composes_with_minhash_pairs(spark):
    """End-to-end: near-identical docs -> minhash pairs -> one keeper."""
    from stock_etl_pipeline_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base + " extra"),
        (3, base),
        (4, "completely different words about spark shuffles and parquet files"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_lsh_pairs(d, num_hashes=12, bands=4, threshold=0.7)
    keepers = {
        r["doc_id"]: r["keeper_id"] for r in near_dup_keepers(pairs).collect()
    }
    assert keepers[1] == 1 and keepers[3] == 1
    assert 4 not in keepers  # no near-dup → absent (its own keeper)


def test_simhash_unpersisted_path_matches_default(spark):
    """persist_signatures=False must produce the identical pair set (the
    flag only changes execution, not semantics)."""
    from stock_etl_pipeline_spark.operators import dedup

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "totally different words live in this document here"),
        (4, "alpha beta gamma delta epsilon zeta eta theta"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(repr, dedup.simhash_near_dup_pairs(d).collect()))
    b = sorted(map(repr, dedup.simhash_near_dup_pairs(d, persist_signatures=False).collect()))
    assert a == b and len(a) > 0


def test_minhash_prefilter_disabled_is_superset(spark):
    """est_min_matches=0 disables the prefilter; the filtered result must be
    a subset of the unfiltered one (it can only drop pairs)."""
    from stock_etl_pipeline_spark.operators import dedup

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again today ok"),
        (2, "the quick brown fox jumps over the lazy dog again today yes"),
        (3, "unrelated text about completely different things entirely here"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    filt = {(r["doc_a"], r["doc_b"]) for r in dedup.minhash_lsh_pairs(d, threshold=0.5).collect()}
    full = {(r["doc_a"], r["doc_b"]) for r in dedup.minhash_lsh_pairs(d, threshold=0.5, est_min_matches=0).collect()}
    assert filt <= full
    assert (1, 2) in full


def test_keepers_compose_with_bucketed_embedding_pairs(spark):
    """The cluster collapse is pair-source-agnostic: feeding the bucketed
    embedding near-dup pairs (similarity.bucketed_matmul_near_dup_pairs)
    into near_dup_keepers must reproduce the union-find components of the
    exact GEMM pair relation — semantic (embedding) dedup gets the same
    linear-output keep/drop shape as the text dedup family."""
    import random

    from stock_etl_pipeline_spark.operators import dedup, similarity

    rng = random.Random(11)
    dim, rows, vid = 32, [], 0
    for _fam in range(12):
        base = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        for _copy in range(3):
            rows.append((vid, [b + rng.gauss(0.0, 0.03) for b in base]))
            vid += 1
    for _ in range(24):
        rows.append((vid, [rng.gauss(0.0, 1.0) for _ in range(dim)]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact_pairs = [
        (r["vec_a"], r["vec_b"])
        for r in similarity.matmul_near_dup_pairs(df, 0.95, n_blocks=3).collect()
    ]
    assert exact_pairs

    # union-find reference over the exact pair graph
    parent: dict[int, int] = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent.setdefault(parent[x], parent[x])
            x = parent[x]
        return x
    for a, b in exact_pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}

    approx = similarity.bucketed_matmul_near_dup_pairs(
        df, 0.95, dim=dim, bits_per_table=5, n_tables=6
    )
    got = {
        r["doc_id"]: r["keeper_id"]
        for r in dedup.near_dup_keepers(
            approx, id_a="vec_a", id_b="vec_b", rounds=6, verify_converged=True
        ).collect()
    }
    assert got == want


def test_lsh_tier_geometry_boundaries():
    """Tier 0 is the frozen oracle geometry; tiers sharpen r with corpus
    size and keep num_hashes % bands == 0."""
    from stock_etl_pipeline_spark.operators.dedup import lsh_tier_geometry

    assert lsh_tier_geometry(500) == (20, 4, 10)
    assert lsh_tier_geometry(5_000_000) == (20, 4, 10)
    assert lsh_tier_geometry(5_000_001) == (48, 8, 29)
    assert lsh_tier_geometry(500_000_000) == (48, 8, 29)
    assert lsh_tier_geometry(500_000_001) == (96, 12, 58)
    for n in (1, 5_000_001, 1_000_000_000):
        k, b, est_min = lsh_tier_geometry(n)
        assert k % b == 0 and 0 < est_min < k


def test_minhash_tier1_geometry_finds_planted_dups(spark):
    """The r=6 tier-1 geometry (k=48, b=8, prefilter >= 29) must still find
    high-Jaccard planted pairs and reject unrelated docs — the tier switch
    changes recall near the threshold, never at j ~ 0.9."""
    from stock_etl_pipeline_spark.operators import dedup

    base = (
        "the quick brown fox jumps over the lazy dog again and again today "
        "with many more words to give the shingle sets realistic weight"
    )
    rows = [
        (1, base),
        (2, base + " tail"),
        (3, base),
        (4, "completely different text about spark shuffles and parquet files"),
        (5, "another unrelated document that shares nothing with the others"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(
            d, num_hashes=48, bands=8, threshold=0.7, est_min_matches=29
        ).collect()
    }
    assert {(1, 2), (1, 3), (2, 3)} <= pairs
    assert all(4 not in p and 5 not in p for p in pairs)


# --- SimHash-128 (wide-band scale sibling) ----------------------------------


def _py_simhash128(text):
    """Pure-Python reference of operators/dedup.simhash128_signatures."""
    import hashlib
    from collections import Counter

    freqs = Counter(t for t in text.lower().split() if t)
    sums, total = [0] * 128, 0
    for tok, f in freqs.items():
        h = hashlib.md5(tok.encode()).hexdigest()
        total += f
        for i in range(128):
            if (int(h[i // 4], 16) >> (i % 4)) & 1:
                sums[i] += f
    bits = [1 if 2 * s > total else 0 for s in sums]
    bands = [sum(bits[32 * k + r] << r for r in range(32)) for k in range(4)]
    return "".join(map(str, bits)), bands


def test_simhash128_matches_python_reference(spark):
    from stock_etl_pipeline_spark.operators.dedup import simhash128_signatures

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "the quick brown fox jumps over the lazy dog the end"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in simhash128_signatures(d).collect()}
    for doc_id, text in rows:
        bits, bands = _py_simhash128(text)
        r = got[doc_id]
        assert r["simhash128"] == bits
        assert [r[f"sb{k}"] for k in range(4)] == bands


def test_simhash128_pairs_match_ground_truth(spark):
    """The pair query returns EXACTLY the pairs at 128-bit hamming ≤ 3
    (banding is pigeonhole-exact), with the hamming the Python reference
    computes. Hamming-on-128-bits is a different metric than the 64-bit
    query's (roughly double the distance for the same edit) — ground truth
    comes from the reference, not from 64-bit intuition."""
    from itertools import combinations

    from stock_etl_pipeline_spark.operators.dedup import simhash128_near_dup_pairs

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [
        (1, base),
        (2, base),  # identical -> hamming 0 via the intra path
        (3, base + " " + base + " extra"),  # doubled mass + one token
        (4, "totally different words live in this entirely other document"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in simhash128_near_dup_pairs(d).collect()}

    bits = {i: _py_simhash128(t)[0] for i, t in rows}
    want = {}
    for a, b in combinations(sorted(bits), 2):
        h = sum(x != y for x, y in zip(bits[a], bits[b]))
        if h <= 3:
            want[(a, b)] = h
    assert out == want
    assert out.get((1, 2)) == 0  # the intra (identical-signature) path fired


def test_simhash128_pair_set_invariant_to_partitioning(spark):
    from stock_etl_pipeline_spark.operators.dedup import simhash128_near_dup_pairs

    base = "one two three four five six seven eight nine ten eleven twelve"
    rows = [(i, base) for i in range(1, 5)] + [(9, "other words here entirely")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(repr, simhash128_near_dup_pairs(d).collect()))
    b = sorted(map(repr, simhash128_near_dup_pairs(d.repartition(7)).collect()))
    assert a == b
    assert len(a) == 6  # C(4,2) identical-doc pairs


def test_word_shingles_short_and_empty_docs(spark):
    """Docs with < n words produce NO shingles instead of crashing: Spark's
    sequence(1, 0) is the DESCENDING [1, 0], so the unguarded form raised
    INVALID_ARRAY_INDEX on short/empty docs under ANSI mode (regression)."""
    from stock_etl_pipeline_spark.operators.dedup import word_shingles

    d = spark.createDataFrame(
        [(1, "hello"), (2, "two words"), (3, ""), (4, "a b c d e")],
        "doc_id long, text string",
    )
    out = word_shingles(d).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["shingle"])
    assert set(by_doc) == {4}
    assert sorted(by_doc[4]) == ["a b c", "b c d", "c d e"]


def test_duplicate_span_stats_planted(spark):
    """Two docs share a verbatim 10-word span (cross-doc dup); one doc has
    an internal verbatim repeat; short docs are absent. Run lengths follow
    the gaps-and-islands construction: a shared w-word span at n=8 yields
    w-7 consecutive duplicated gram positions."""
    from stock_etl_pipeline_spark.operators.dedup import duplicate_span_stats

    span = "one two three four five six seven eight nine ten"  # 10 words
    rows = [
        (1, span + " unique tail for document number one here indeed"),
        (2, "different head words precede the shared span " + span),
        (3, "entirely unrelated words with no duplicated span at all present"),
        (4, "short doc"),
        (5, "rep rep rep rep rep rep rep rep rep rep rep rep"),  # 12x same word
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in duplicate_span_stats(d, n=8).collect()}

    assert 4 not in out  # < 8 words -> absent
    # doc 1: 18 words -> 11 grams; the 10-word shared span gives grams at
    # positions 1-3 (10-8+1) duplicated -> run length 3
    assert out[1]["n_grams"] == 11 and out[1]["n_dup_grams"] == 3
    assert out[1]["max_dup_run"] == 3
    # doc 2: 17 words -> 10 grams; span occupies the last 3 gram positions
    assert out[2]["n_grams"] == 10 and out[2]["n_dup_grams"] == 3
    assert out[2]["max_dup_run"] == 3
    # doc 3: no duplicated grams anywhere
    assert out[3]["n_dup_grams"] == 0 and out[3]["max_dup_run"] == 0
    # doc 5: all 5 grams are the identical "rep"*8 gram -> within-doc dup
    assert out[5]["n_grams"] == 5 and out[5]["n_dup_grams"] == 5
    assert out[5]["max_dup_run"] == 5
    assert abs(out[5]["dup_frac"] - 1.0) < 1e-9


# --- large-star/small-star connected components ------------------------------


def _cc(spark, pairs):
    from stock_etl_pipeline_spark.operators.dedup import connected_components

    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    out = connected_components(df)
    return {r["doc_id"]: r["keeper_id"] for r in out.collect()}


def _uf_reference(pairs):
    """Plain union-find ground truth with min-id canonical labels."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_cc_long_chain_beyond_propagation_rounds(spark):
    # Diameter-60 path: fixed-round propagation (rounds=3) can only DETECT
    # this via its certificate; large-star/small-star must SOLVE it.
    chain = [(i, i + 1) for i in range(100, 160)]
    assert _cc(spark, chain) == {i: 100 for i in range(100, 161)}


def test_cc_matches_union_find_on_mixed_graph(spark):
    # Cliques + chains + isolated pair + self-pair, shuffled ids.
    pairs = (
        [(1, 2), (2, 3), (1, 3)]          # clique
        + [(10, 50), (50, 20), (20, 40)]  # chain with non-monotone ids
        + [(7, 8)]                        # pair
        + [(99, 99)]                      # self-pair → own keeper
        + [(60, 61), (62, 61), (62, 63), (63, 60)]  # cycle
    )
    got = _cc(spark, pairs)
    want = _uf_reference([(a, b) for a, b in pairs if a != b])
    want[99] = 99
    assert got == want


def test_cc_agrees_with_propagation_when_rounds_suffice(spark):
    from stock_etl_pipeline_spark.operators.dedup import near_dup_keepers

    pairs = [(i, i + 1) for i in range(0, 40, 2)] + [(4, 6), (8, 10)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    prop = {r["doc_id"]: r["keeper_id"] for r in near_dup_keepers(df, rounds=3).collect()}
    cc = _cc(spark, pairs)
    assert cc == prop


def test_cc_star_forest_predicate_boundary(spark, monkeypatch):
    """The edge set {(1,2),(1,3),(2,4)} is SMALL-star-stable but not a
    joint fixpoint (node 2 is both a hi and a lo) — the star-forest
    convergence predicate must not fire early on it, and the final labels
    must collapse the whole component to 1. Guards the 'both phases'
    requirement the round-8 predicate replaced the two-way edge-set
    comparison with. Gate disabled: this pins the DISTRIBUTED loop's
    predicate (the default gate would take the local-finish path)."""
    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL", "0")
    assert _cc(spark, [(1, 2), (1, 3), (2, 4)]) == {1: 1, 2: 1, 3: 1, 4: 1}


def test_cc_empty_pairs(spark):
    from stock_etl_pipeline_spark.operators.dedup import connected_components

    df = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(df).collect() == []


def test_cc_string_ids(spark):
    # string ids fall through to the distributed loop (the local finish is
    # integer-id-only by construction) — contract unchanged either way
    from stock_etl_pipeline_spark.operators.dedup import connected_components

    df = spark.createDataFrame(
        [("d2", "d1"), ("d2", "d3"), ("x", "y")], "doc_a string, doc_b string"
    )
    got = {r["doc_id"]: r["keeper_id"] for r in connected_components(df).collect()}
    assert got == {"d1": "d1", "d2": "d1", "d3": "d1", "x": "x", "y": "x"}


def test_cc_hybrid_local_finish_matches_distributed(spark, monkeypatch):
    """Round-9 hybrid: the union-find local finish and the pure
    distributed alternation loop return IDENTICAL labels (exact CC is
    unique). Mixed graph — cliques (near-dup families), an 11-node chain
    (diameter > any fixed round count), and isolated self-pairs — sized
    well past what one alternation collapses. Also pins the gate
    boundary: a threshold of exactly the edge count takes the local path
    immediately; edge count − 1 forces at least one distributed
    alternation before the shrunken set passes the gate."""
    from stock_etl_pipeline_spark.operators.dedup import connected_components

    pairs = []
    for base in range(0, 300, 6):  # 50 cliques of 4 (ids base..base+3)
        ids = [base, base + 1, base + 2, base + 3]
        pairs += [(a, b) for a in ids for b in ids if a < b]
    pairs += [(1000 + i, 1001 + i) for i in range(10)]  # chain
    pairs += [(5000, 5000), (6000, 6000)]  # self-pairs label themselves
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    n_edges = 50 * 6 + 10  # canonical distinct lo<hi edges

    def run():
        return {
            r["doc_id"]: r["keeper_id"]
            for r in connected_components(df).collect()
        }

    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL", "0")
    dist = run()
    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL", str(n_edges))
    local_now = run()
    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL", str(n_edges - 1))
    local_later = run()
    assert dist == local_now == local_later
    # spot-check the contract on each shape
    assert dist[3] == 0 and dist[9] == 6  # clique min-ids
    assert all(dist[1000 + i] == 1000 for i in range(11))  # chain collapses
    assert dist[5000] == 5000 and dist[6000] == 6000  # isolated


# --- semantic dedup (SemDeDup composition) -----------------------------------


def _sem_corpus(spark):
    """3 planted families (intra-cosine ≥ 0.999, inter < 0.75) + 2 singletons;
    ids interleaved so kmeans_exact's first-k init seeds one centroid per
    family."""
    fam = {
        "A": [1.0, 0.0, 0.0, 0.0],
        "B": [0.0, 1.0, 0.0, 0.0],
        "C": [0.0, 0.0, 1.0, 0.0],
    }
    rows = []
    for rep in range(3):
        for fi, base in enumerate(fam.values()):
            vec = list(base)
            vec[3] = 0.01 * rep  # tiny perturbation, cosine ≈ 0.99995
            rows.append((rep * 3 + fi, vec))
    rows.append((9, [0.0, 0.0, 0.0, 1.0]))
    rows.append((10, [0.6, 0.64, 0.0, 0.0]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semantic_dedup_min_id(spark):
    from stock_etl_pipeline_spark.operators.similarity import semantic_dedup

    out = semantic_dedup(
        _sem_corpus(spark), 0.99, k_clusters=3, iters=2
    ).collect()
    got = {r["vec_id"]: (r["group_id"], r["keeper_id"]) for r in out}
    assert len(got) == 11
    # families {0,3,6}, {1,4,7}, {2,5,8} collapse to min id; singletons keep
    for ids in ([0, 3, 6], [1, 4, 7], [2, 5, 8]):
        for i in ids:
            assert got[i] == (ids[0], ids[0]), (i, got[i])
    for i in (9, 10):
        assert got[i] == (i, i)


def test_semantic_dedup_far_from_centroid(spark):
    from stock_etl_pipeline_spark.operators.similarity import semantic_dedup

    out = semantic_dedup(
        _sem_corpus(spark), 0.99, k_clusters=3, iters=2, keep="far_from_centroid"
    ).collect()
    got = {r["vec_id"]: r["keeper_id"] for r in out}
    # exactly one keeper per family, drawn FROM the family
    for ids in ([0, 3, 6], [1, 4, 7], [2, 5, 8]):
        keepers = {got[i] for i in ids}
        assert len(keepers) == 1 and keepers <= set(ids)
    assert got[9] == 9 and got[10] == 10


def test_semantic_dedup_partitioning_invariant(spark):
    from stock_etl_pipeline_spark.operators.similarity import semantic_dedup

    base = _sem_corpus(spark)
    a = {
        (r["vec_id"], r["group_id"], r["keeper_id"])
        for r in semantic_dedup(base, 0.99, k_clusters=3, iters=2,
                                keep="far_from_centroid").collect()
    }
    b = {
        (r["vec_id"], r["group_id"], r["keeper_id"])
        for r in semantic_dedup(base.repartition(7), 0.99, k_clusters=3,
                                iters=2, keep="far_from_centroid").collect()
    }
    assert a == b


def test_cell_count_auto_probe(spark):
    """k_clusters="auto-probe" (round 9, opt-in): the probe measures
    recall@K per candidate, records its decision, and semantic_dedup with
    the mode is bit-identical to running it with the chosen K directly.
    On a corpus whose clusters all co-assign at every candidate (the
    planted 3-family corpus), recall ties at 1.0 and the cost term must
    break the tie to the SMALLEST candidate K0."""
    from stock_etl_pipeline_spark.operators import similarity
    from stock_etl_pipeline_spark.operators.similarity import (
        probe_cell_count,
        semantic_dedup,
        with_micro_vectors,
    )

    # 64 vectors in 4 tight orthogonal families -> every true pair is
    # within-family; any K whose cells don't split a family scores 1.0
    rows = []
    for i in range(64):
        fam = i % 4
        vec = [0.0] * 8
        vec[fam] = 1.0
        vec[7] = 0.001 * (i // 4)  # tiny intra-family spread
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    v = with_micro_vectors(df.select("vec_id", "embedding"), "embedding")
    chosen = probe_cell_count(v, 0.99, iters=2, candidates=[4, 16])
    probe = similarity.LAST_AUTO_PROBE
    assert probe["chosen"] == chosen
    assert set(probe["candidates"]) == {4, 16}
    assert probe["true_pairs"] > 0
    for rec in probe["candidates"].values():
        assert 0.0 <= rec["recall"] <= 1.0
    # recall ties at 1.0 on this corpus -> the cost term picks the small K
    assert probe["candidates"][4]["recall"] == 1.0
    assert chosen == 4

    a = sorted(
        map(repr, semantic_dedup(df, 0.99, k_clusters="auto-probe", iters=2).collect())
    )
    b = sorted(
        map(
            repr,
            semantic_dedup(
                df, 0.99, k_clusters=similarity.LAST_AUTO_PROBE["chosen"], iters=2
            ).collect(),
        )
    )
    assert a == b


def test_auto_probe_detects_oversplit_recall_loss(spark):
    """The probe must MEASURE recall, not assume monotonicity: on a corpus
    whose 8 tight families include one straddling two axes, K=8 over-splits
    (the straddler's pairs land in different cells — measured recall 0.40)
    while K=2 keeps every family whole (recall 1.0), so the probe must
    reject the over-split despite the candidates arriving either way.
    Deterministic: first-K-ids seeding, 2 Lloyd iters, fixed corpus."""
    from stock_etl_pipeline_spark.operators import similarity
    from stock_etl_pipeline_spark.operators.similarity import (
        probe_cell_count,
        with_micro_vectors,
    )

    rows = []
    i = 0
    for c in range(7):
        for r in range(8):
            v = [0.0] * 8
            v[c] = 1.0
            v[7 if c != 7 else 6] += 0.001 * r
            rows.append((i, v))
            i += 1
    for r in range(8):  # straddler family, pulled alternately toward axes 0/1
        v = [0.6, 0.6, 0.0, 0.0, 0.0, 0.0, 0.0, 0.5]
        v[r % 2] += 0.08
        rows.append((i, v))
        i += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    v = with_micro_vectors(df.select("vec_id", "embedding"), "embedding")
    chosen = probe_cell_count(v, 0.98, iters=2, candidates=[2, 8])
    probe = similarity.LAST_AUTO_PROBE
    assert probe["candidates"][2]["recall"] == 1.0
    assert probe["candidates"][8]["recall"] < 0.5  # the over-split is real
    assert chosen == 2


def test_auto_probe_never_fires_at_tier0(monkeypatch):
    """SPARK_GRAFT_SEM_CELLS="auto-probe" is a tier-1 knob: tier 0 (the
    frozen oracle geometry every driver SF lands in) must ignore it."""
    from stock_etl_pipeline_spark.workload.vectors import (
        _IVF_K,
        _SEM_TIER0_MAX,
        _sem_tier,
    )

    monkeypatch.setenv("SPARK_GRAFT_SEM_CELLS", "auto-probe")
    t0 = _sem_tier(_SEM_TIER0_MAX)
    assert t0["k_clusters"] == _IVF_K  # frozen, knob ignored
    t1 = _sem_tier(_SEM_TIER0_MAX + 1)
    assert t1["k_clusters"] == "auto-probe"  # opt-in passes through


def test_semantic_fused_groups_match_pairs_cc(spark, monkeypatch):
    """Round-9 fused per-cell grouping ≡ the pairs + connected_components
    arm, row for row, under BOTH keeper policies — pairs never cross
    cells, so per-cell min-label components ARE the global components.
    Corpus includes a multi-member family (transitivity inside a cell),
    singletons, and a zero vector."""
    from stock_etl_pipeline_spark.operators.similarity import semantic_dedup

    rows = []
    for i in range(48):
        fam = i % 3
        vec = [0.0] * 6
        vec[fam] = 1.0
        vec[5] = 0.002 * (i // 3)  # tight intra-family spread
        rows.append((i, vec))
    rows.append((100, [0.0, 0.0, 0.0, 1.0, 0.0, 0.0]))  # singleton
    rows.append((101, [0.0] * 6))  # zero vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # the gemm arm's unit-vector normalization divides by sqrt(vv): a zero
    # vector is outside its contract (ANSI divide-by-zero) on BOTH its
    # fused and pairs+CC paths, so the gemm comparison drops id 101
    df_gemm = df.filter("vec_id <> 101")
    for keep in ("min_id", "far_from_centroid"):
        for backend in ("int", "gemm"):  # gemm fused in round 10 (VERDICT r9)
            d = df if backend == "int" else df_gemm
            monkeypatch.delenv("SPARK_GRAFT_SEM_FUSE_GROUPS", raising=False)
            fused = sorted(
                map(
                    repr,
                    semantic_dedup(
                        d, 0.99, k_clusters=3, iters=2, keep=keep,
                        pair_backend=backend,
                    ).collect(),
                )
            )
            monkeypatch.setenv("SPARK_GRAFT_SEM_FUSE_GROUPS", "0")
            cc = sorted(
                map(
                    repr,
                    semantic_dedup(
                        d, 0.99, k_clusters=3, iters=2, keep=keep,
                        pair_backend=backend,
                    ).collect(),
                )
            )
            assert fused == cc, f"fused != pairs+CC under {keep}/{backend}"


def test_semantic_dedup_rejects_unknown_policy(spark):
    import pytest

    from stock_etl_pipeline_spark.operators.similarity import semantic_dedup

    with pytest.raises(ValueError, match="keeper policy"):
        semantic_dedup(_sem_corpus(spark), 0.99, keep="random")


def test_semantic_dedup_jvm_backend_matches_gemm(spark):
    """The oracle-checkable jvm pair backend and the Arrow-GEMM backend must
    produce identical (group, keeper) labelings (cosines differ only at the
    last ulp, far from the planted corpus's threshold margins)."""
    from stock_etl_pipeline_spark.operators.similarity import semantic_dedup

    base = _sem_corpus(spark)
    kw = dict(k_clusters=3, iters=2, keep="far_from_centroid")
    g = {
        (r["vec_id"], r["group_id"], r["keeper_id"])
        for r in semantic_dedup(base, 0.99, **kw).collect()
    }
    j = {
        (r["vec_id"], r["group_id"], r["keeper_id"])
        for r in semantic_dedup(base, 0.99, pair_backend="jvm", **kw).collect()
    }
    assert g == j


def test_semantic_dedup_propagation_matches_cc(spark):
    """Families are cliques, so 3-round propagation and exact CC agree."""
    from stock_etl_pipeline_spark.operators.similarity import semantic_dedup

    base = _sem_corpus(spark)
    kw = dict(k_clusters=3, iters=2, pair_backend="jvm")
    cc = {
        (r["vec_id"], r["group_id"], r["keeper_id"])
        for r in semantic_dedup(base, 0.99, **kw).collect()
    }
    prop = {
        (r["vec_id"], r["group_id"], r["keeper_id"])
        for r in semantic_dedup(base, 0.99, propagation_rounds=3, **kw).collect()
    }
    assert cc == prop


def test_sem_tier_boundaries():
    from stock_etl_pipeline_spark.workload.vectors import _sem_tier, _IVF_K

    t0 = _sem_tier(500)
    # round 14: tier 0 also pins the assignment backend — "arrow" under
    # the default fold dot mode (bit-identical, arm-equality-pinned),
    # "jvm" whenever the gemm A/B arm is active
    assert t0 == dict(
        k_clusters=_IVF_K, pair_backend="int", propagation_rounds=3,
        assign_backend="arrow",
    )
    assert _sem_tier(40_000) == t0  # frozen oracle tier boundary inclusive
    t1 = _sem_tier(40_001)
    assert t1["pair_backend"] == "int" and t1["propagation_rounds"] is None
    assert t1["k_clusters"] == 29  # round(sqrt(40001) / 7)
    assert _sem_tier(500_000)["k_clusters"] == 101  # √n rule: ~100 at 100x
    assert _sem_tier(50_000_000)["k_clusters"] == 1010  # O(n^1.5) total work


def test_sem_tier_env_override(monkeypatch):
    from stock_etl_pipeline_spark.workload.vectors import _sem_tier, _IVF_K

    monkeypatch.setenv("SPARK_GRAFT_SEM_CELLS", "42")
    assert _sem_tier(500_000)["k_clusters"] == 42
    # never tier 0 — the frozen oracle geometry ignores the knob
    assert _sem_tier(500)["k_clusters"] == _IVF_K
    # the gemm dot arm (last-ulp caveat) must force tier 0 back to the
    # jvm join assignment; the explicit T0 knob wins over both
    monkeypatch.setenv("SPARK_GRAFT_ASSIGN_DOT", "gemm")
    assert _sem_tier(500)["assign_backend"] == "jvm"
    monkeypatch.setenv("SPARK_GRAFT_SEM_T0_ASSIGN", "arrow")
    assert _sem_tier(500)["assign_backend"] == "arrow"


def test_arrow_assignment_matches_jvm(spark):
    """assign_to_centroids_arrow must reproduce the JVM path's (cid, cdist)
    exactly on the planted corpus (distances far from quantization
    boundaries), including the lowest-cid tiebreak."""
    from pyspark.sql import functions as F

    from stock_etl_pipeline_spark.operators import similarity

    v = similarity.with_micro_vectors(_sem_corpus(spark))
    cents = similarity.kmeans_exact(v, k_clusters=3, iters=2)
    jvm = similarity.assign_to_centroids(v, cents)
    vc = F.expr(
        "aggregate(zip_with(v_dbl, c_dbl, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    )
    dist = F.floor((F.col("vv") + F.col("cc") - 2 * vc) * 1e6 + F.lit(0.5)) / 1e6
    jvm = (
        jvm.join(F.broadcast(cents), "cid")
        .withColumn("cdist", dist)
        .select("vec_id", "cid", "cdist")
    )
    arrow = similarity.assign_to_centroids_arrow(v, cents).select(
        "vec_id", "cid", "cdist"
    )
    a = {r["vec_id"]: (r["cid"], r["cdist"]) for r in jvm.collect()}
    b = {r["vec_id"]: (r["cid"], r["cdist"]) for r in arrow.collect()}
    assert a == b


def test_arrow_assignment_carries_payload(spark):
    """Swapping the jvm backend for the Arrow kernel must not change a
    caller's downstream schema: every non-id input column (including the
    original embedding and arbitrary payload) passes through unchanged,
    with cid/cdist prepended."""
    from pyspark.sql import functions as F

    from stock_etl_pipeline_spark.operators import similarity

    base = _sem_corpus(spark).withColumn(
        "label", F.concat(F.lit("l"), F.col("vec_id"))
    )
    v = similarity.with_micro_vectors(base)
    cents = similarity.kmeans_exact(v, k_clusters=3, iters=1)
    out = similarity.assign_to_centroids_arrow(v, cents)
    assert out.columns == [
        "vec_id", "cid", "cdist", "embedding", "label", "v_int", "v_dbl", "vv"
    ]
    got = {r["vec_id"]: (r["label"], list(r["embedding"])) for r in out.collect()}
    want = {r["vec_id"]: (r["label"], list(r["embedding"])) for r in base.collect()}
    assert got == want


def test_semantic_dedup_string_ids_gemm(spark):
    """The gemm pair backend derives its output id type from the input —
    string ids work identically on both pair backends."""
    from pyspark.sql import functions as F

    from stock_etl_pipeline_spark.operators.similarity import semantic_dedup

    base = _sem_corpus(spark).select(
        F.col("vec_id").cast("string").alias("vec_id"), "embedding"
    )
    kw = dict(k_clusters=3, iters=2)
    a = {
        (r["vec_id"], r["group_id"], r["keeper_id"])
        for r in semantic_dedup(base, 0.99, pair_backend="jvm", **kw).collect()
    }
    b = {
        (r["vec_id"], r["group_id"], r["keeper_id"])
        for r in semantic_dedup(base, 0.99, pair_backend="gemm", **kw).collect()
    }
    assert a == b and len(a) == 11


def test_semantic_dedup_arrow_assignment_matches_jvm(spark):
    from stock_etl_pipeline_spark.operators.similarity import semantic_dedup

    base = _sem_corpus(spark)
    kw = dict(k_clusters=3, iters=2, keep="far_from_centroid")
    a = {
        (r["vec_id"], r["group_id"], r["keeper_id"])
        for r in semantic_dedup(base, 0.99, **kw).collect()
    }
    b = {
        (r["vec_id"], r["group_id"], r["keeper_id"])
        for r in semantic_dedup(base, 0.99, assign_backend="arrow", **kw).collect()
    }
    assert a == b


def test_spread_single_partition_gating(spark):
    """The spread fires ONLY at exactly one partition AND a known corpus of
    >= _SPREAD_MIN_DOCS — never on multi-partition scans (text/token mass
    must not shuffle when the scan parallelizes: an ungated repartition
    measured a 2.4x loss at the 100x tier) and never on small or
    unknown-size corpora (keeps sf0.001/sf0.01 golden plans exchange-free)."""
    from stock_etl_pipeline_spark.operators.dedup import (
        _SPREAD_MIN_DOCS,
        _spread_single_partition,
    )

    one = spark.createDataFrame([(1, "a")], "doc_id long, text string").coalesce(1)
    par = spark.sparkContext.defaultParallelism
    assert _spread_single_partition(one, None).rdd.getNumPartitions() == 1
    assert (
        _spread_single_partition(one, _SPREAD_MIN_DOCS - 1).rdd.getNumPartitions()
        == 1
    )
    assert (
        _spread_single_partition(one, _SPREAD_MIN_DOCS).rdd.getNumPartitions() == par
    )
    many = spark.createDataFrame(
        [(i, "a") for i in range(8)], "doc_id long, text string"
    ).repartition(4)
    assert (
        _spread_single_partition(many, _SPREAD_MIN_DOCS).rdd.getNumPartitions() == 4
    )


def test_spread_fires_on_single_row_group_despite_split_math(spark, tmp_path):
    """Split planning can slice a one-row-group file into many byte-range
    splits (small maxPartitionBytes, tiny openCost), but the row group is
    the true unit of scan parallelism: all rows land in ONE task and the
    rest are empty, so the ==1 partition probe reads 'many' while the
    kernel still serializes through one worker (this round's open-cost
    experiment measured the signature kernels 1.5x slower with the spread
    masked that way). The footer probe must see through it: one total row
    group == one effective partition -> spread fires."""
    from stock_etl_pipeline_spark.operators import dedup

    p = str(tmp_path / "one_rg")
    spark.createDataFrame(
        [(i, "lorem ipsum dolor sit amet " * 40) for i in range(512)],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(p)
    par = spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_cost = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
        spark.conf.set("spark.sql.files.openCostInBytes", "1024")
        scan = spark.read.parquet(p)
        planned = scan.rdd.getNumPartitions()
        assert planned > 1  # split math sees many splits...
        files = tuple(sorted(scan.inputFiles()))
        assert dedup._total_row_groups(files) == 1  # ...the data is one RG
        key = dedup._spread_cache_key(scan)
        dedup._spread_decisions.pop(key, None)
        out = dedup._spread_single_partition(scan, dedup._SPREAD_MIN_DOCS)
        assert out.rdd.getNumPartitions() == par  # spread fired anyway
        assert dedup._spread_decisions.get(key) is True
        dedup._spread_decisions.pop(key, None)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        spark.conf.set("spark.sql.files.openCostInBytes", old_cost)

    # A genuinely multi-row-group, multi-split scan must NOT spread: the
    # footer probe only ever turns 'many planned' INTO 'single', never the
    # reverse, and multi-RG parallelism is real.
    p2 = str(tmp_path / "many_rg")
    spark.createDataFrame(
        [(i, "x" * 64) for i in range(4096)], "doc_id long, text string"
    ).coalesce(1).write.option("parquet.block.size", "4096").parquet(p2)
    # Force multi-split planning (ADVICE r13: a host/conf that plans one
    # split would silently skip this negative case behind an `if`) — the
    # same conf pattern as the positive half above.
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
        spark.conf.set("spark.sql.files.openCostInBytes", "1024")
        scan2 = spark.read.parquet(p2)
        files2 = tuple(sorted(scan2.inputFiles()))
        rgs2 = dedup._total_row_groups(files2)
        assert rgs2 is not None and rgs2 > 1
        planned2 = scan2.rdd.getNumPartitions()
        assert planned2 > 1  # precondition must hold, loudly
        key2 = dedup._spread_cache_key(scan2)
        dedup._spread_decisions.pop(key2, None)
        out2 = dedup._spread_single_partition(scan2, dedup._SPREAD_MIN_DOCS)
        assert out2.rdd.getNumPartitions() == planned2  # untouched
        dedup._spread_decisions.pop(key2, None)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        spark.conf.set("spark.sql.files.openCostInBytes", old_cost)


def test_spread_decision_cached_per_file_set(spark, tmp_path):
    """The exact single-partition probe forces physical planning, so its
    verdict is cached per file set (ADVICE r8) — every projection of the
    same files consults the cache instead of re-planning. Pinned by
    poisoning the cache: a False entry must suppress the spread on a scan
    that IS single-partition, proving the probe is short-circuited."""
    from stock_etl_pipeline_spark.operators import dedup

    p = str(tmp_path / "one_split")
    spark.createDataFrame(
        [(i, "a") for i in range(16)], "doc_id long, text string"
    ).coalesce(1).write.parquet(p)
    scan = spark.read.parquet(p)
    par = spark.sparkContext.defaultParallelism
    key = dedup._spread_cache_key(scan.select("text"))
    assert key is not None  # pure projection of a file scan is cacheable
    assert key == dedup._spread_cache_key(scan.select("doc_id"))

    dedup._spread_decisions.pop(key, None)
    out = dedup._spread_single_partition(
        scan.select("text"), dedup._SPREAD_MIN_DOCS
    )
    assert out.rdd.getNumPartitions() == par  # spread fired
    assert dedup._spread_decisions.get(key) is True  # verdict recorded

    # poisoned cache is honored -> the probe did not re-run
    dedup._spread_decisions[key] = False
    out2 = dedup._spread_single_partition(
        scan.select("doc_id"), dedup._SPREAD_MIN_DOCS
    )
    assert out2.rdd.getNumPartitions() == 1
    dedup._spread_decisions.pop(key, None)


def test_spread_cache_scoped_to_scan_shaped_plans(spark, tmp_path):
    """The cached verdict is a property of (files, split confs) ONLY for
    scan-shaped plans (ADVICE r9): a post-shuffle relation over the same
    files must bypass the cache (a poisoned True entry must NOT make it
    repartition an already-parallel relation — the 2.4x token-mass-shuffle
    loss the round-8 gate exists to avoid), and a split-conf change must
    change the key so a stale verdict is never reused."""
    from stock_etl_pipeline_spark.operators import dedup

    p = str(tmp_path / "one_split2")
    spark.createDataFrame(
        [(i, "a") for i in range(16)], "doc_id long, text string"
    ).coalesce(1).write.parquet(p)
    scan = spark.read.parquet(p)

    # 1) post-shuffle plan over the SAME files: not scan-shaped -> no key
    shuffled = scan.repartition(4)
    assert dedup._spread_cache_key(shuffled) is None
    scan_key = dedup._spread_cache_key(scan)
    dedup._spread_decisions[scan_key] = True  # poison: "single partition"
    out = dedup._spread_single_partition(shuffled, dedup._SPREAD_MIN_DOCS)
    # exact probe sees 4 partitions -> no repartition despite the poison
    assert out.rdd.getNumPartitions() == 4
    # ...and an aggregate over the same files is likewise uncacheable
    agg = scan.groupBy("text").count()
    assert dedup._spread_cache_key(agg) is None

    # 2) split-conf change moves the key -> stale verdict not consulted
    old_conf = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64m")
        key2 = dedup._spread_cache_key(scan)
        assert key2 != scan_key
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_conf)
    dedup._spread_decisions.pop(scan_key, None)


def test_hier_assign_kernel_matches_flat():
    """The two-level pruned assignment (round 8 — the large-K scale path)
    must return the identical (quantized distance, position) pair as the
    flat rows×K kernel: the triangle-inequality candidate set provably
    contains every quantized-argmin winner, so pruning never changes the
    result. Random AND clustered geometries (clustered is where pruning
    actually fires; random is where bounds are weakest)."""
    import numpy as np

    from stock_etl_pipeline_spark.operators.similarity import (
        _assign_block,
        _hier_index,
    )

    rng = np.random.default_rng(7)
    for shape in ("random", "clustered", "huge"):
        K, dim, n = 600, 16, 3000
        if shape == "random":
            C = rng.normal(size=(K, dim))
            V = rng.normal(size=(n, dim))
        elif shape == "huge":
            # larger-magnitude vectors (d² ~ 1e6, ~1e4x the unit-ish norm):
            # exercises the relative slack term in the pruning bound. NOT
            # much larger: the 1e-6-grid bit-equality contract requires the
            # grid step to dominate GEMM accumulation ulp error (measured:
            # at coord scale 1e3, dq error ~0.1 grid steps already flips
            # occasional floor boundaries for EVERY blocked-vs-full kernel
            # pair) — the engine's micro-quantized unit-ish embeddings live
            # ~1e4x inside the valid domain
            C = rng.normal(size=(K, dim)) * 1e2
            V = rng.normal(size=(n, dim)) * 1e2
        else:
            hubs = rng.normal(size=(40, dim)) * 4
            C = hubs[rng.integers(0, 40, K)] + rng.normal(size=(K, dim)) * 0.1
            V = hubs[rng.integers(0, 40, n)] + rng.normal(size=(n, dim)) * 0.1
        # micro-quantize like with_micro_vectors so distances live on the
        # same grid the engine uses
        V = np.floor(V * 1e6 + 0.5) / 1e6
        cc = (C * C).sum(axis=1)
        vv = (V * V).sum(axis=1)
        hier = _hier_index(C)
        assert hier is not None
        q_flat, p_flat = _assign_block(V, vv, C, cc, None)
        q_hier, p_hier = _assign_block(V, vv, C, cc, hier)
        assert (p_flat == p_hier).all(), shape
        assert (q_flat == q_hier).all(), shape


def test_assign_arrow_hier_env_matches_flat(spark, monkeypatch):
    """assign_to_centroids_arrow under SPARK_GRAFT_ASSIGN_HIER=1 must emit
    the same (cid, cdist) relation as =0 on a model small enough that auto
    would stay flat — the knob is the A/B lever and the pruned path is
    exact."""
    import random

    from stock_etl_pipeline_spark.operators import similarity

    random.seed(11)
    rows = [
        (i, [round(random.uniform(-1, 1), 3) for _ in range(8)]) for i in range(160)
    ]
    df = similarity.with_micro_vectors(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        "embedding",
    )
    cent = similarity.kmeans_exact(df, k_clusters=24, iters=2, id_col="vec_id")
    out = {}
    for knob in ("0", "1"):
        monkeypatch.setenv("SPARK_GRAFT_ASSIGN_HIER", knob)
        out[knob] = {
            (r["vec_id"], r["cid"], r["cdist"])
            for r in similarity.assign_to_centroids_arrow(
                df.select("vec_id", "v_dbl", "vv"), cent, id_col="vec_id"
            ).collect()
        }
    assert out["0"] == out["1"] and len(out["0"]) == 160


def test_kmeans_arrow_hier_matches_flat(spark, monkeypatch):
    """_kmeans_exact_arrow trained with the pruned assignment must produce
    bit-identical centroids to the flat kernel — every Lloyd iteration's
    argmin is unchanged, and the int64 reduceat/scatter partial sums are
    exact in any grouping."""
    import random

    from stock_etl_pipeline_spark.operators import similarity

    random.seed(13)
    rows = [
        (i, [round(random.uniform(-1, 1), 3) for _ in range(8)]) for i in range(200)
    ]
    df = similarity.with_micro_vectors(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        "embedding",
    )
    got = {}
    for knob in ("0", "1"):
        monkeypatch.setenv("SPARK_GRAFT_ASSIGN_HIER", knob)
        got[knob] = {
            (r["cid"], tuple(r["c_dbl"]), r["cc"])
            for r in similarity._kmeans_exact_arrow(
                df, k_clusters=20, iters=2, id_col="vec_id"
            ).collect()
        }
    assert got["0"] == got["1"] and len(got["0"]) == 20


def test_rowwise_simhash_matches_batch_signatures(spark):
    """with_rowwise_simhash (per-row fold, streaming-safe) must be
    bit-identical to the batch simhash_signatures on real corpus text,
    including the hi/lo packing and the 16-bit band-key ints."""
    from stock_etl_pipeline_spark.datasets import load_table
    from stock_etl_pipeline_spark.operators import dedup

    d = load_table(spark, "/root/testdata/sf0.001", "documents").limit(200)
    rw = {
        r["doc_id"]: (r["simhash_hi"], r["simhash_lo"],
                      r["sb0"], r["sb1"], r["sb2"], r["sb3"])
        for r in dedup.with_rowwise_simhash(d).collect()
    }
    bt = {
        r["doc_id"]: (r["simhash_hi"], r["simhash_lo"])
        for r in dedup.simhash_signatures(d).collect()
    }
    assert set(bt) <= set(rw)  # batch drops token-less docs; rowwise keeps them
    for k, (hi, lo) in bt.items():
        bands = (hi & 65535, (hi >> 16) & 65535, lo & 65535, (lo >> 16) & 65535)
        assert rw[k] == (hi, lo, *bands), k


def test_rowwise_simhash_arrow_bit_identical(spark):
    """with_rowwise_simhash_arrow (vectorized md5+majority kernel — the
    streaming default) must be bit-identical to the JVM HOF fold on real
    corpus text AND on the edge shapes where cross-language drift would
    hide: empty text, whitespace-only (zero tokens after the filter),
    single token, repeated mixed-case tokens, and non-ASCII (tokenization
    stays JVM-side precisely so Java split/lower semantics are shared;
    only md5 crosses the language boundary)."""
    from stock_etl_pipeline_spark.datasets import load_table
    from stock_etl_pipeline_spark.operators import dedup

    cols = ("simhash_hi", "simhash_lo", "sb0", "sb1", "sb2", "sb3")

    def sigmap(df):
        return {r["doc_id"]: tuple(r[c] for c in cols) for r in df.collect()}

    d = load_table(spark, "/root/testdata/sf0.001", "documents").limit(200)
    assert sigmap(dedup.with_rowwise_simhash_arrow(d)) == sigmap(
        dedup.with_rowwise_simhash(d)
    )

    edge = spark.createDataFrame(
        [
            (1, ""),
            (2, "   \t  "),
            (3, "a"),
            (4, "Hello WORLD hello world HELLO"),
            (5, "Ünïcode Tökens ünïcode tökens"),
            (6, "x " * 600),  # many repeated tokens: majority well-defined
        ],
        "doc_id long, text string",
    )
    assert sigmap(dedup.with_rowwise_simhash_arrow(edge)) == sigmap(
        dedup.with_rowwise_simhash(edge)
    )


# --- Arrow batch signature backend equivalence -------------------------------


_EDGE_DOCS = [
    (1, "alpha beta gamma delta epsilon zeta eta theta"),
    (2, "alpha beta gamma delta epsilon zeta eta iota"),
    (3, "alpha alpha alpha beta"),  # repeated tokens exercise freq weighting
    (4, ""),  # zero tokens: relational explode drops the doc entirely
    (5, "   \t  \n "),  # whitespace-only: also zero tokens
    (6, "Ünïcode tökens mit ÜMLAUTEN und 中文 字符 here"),
    (7, "single"),
    (8, "MiXeD CaSe TOKENS mixed case tokens"),
    (9, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
    (10, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 1
]


def _sorted_rows(df):
    return sorted(map(repr, df.collect()))


def test_simhash_signatures_arrow_matches_relational(spark):
    """The Arrow kernel's 64-bit signature relation is bit-identical to the
    relational (explode → vocab → packed-sum) form on edge-case docs,
    including dropping zero-token docs."""
    from stock_etl_pipeline_spark.operators import dedup

    d = spark.createDataFrame(_EDGE_DOCS, "doc_id long, text string")
    rel = _sorted_rows(dedup.simhash_signatures(d))
    arr = _sorted_rows(dedup.simhash_signatures_arrow(d))
    assert arr == rel and len(arr) == len(_EDGE_DOCS) - 2


def test_simhash128_signatures_arrow_matches_relational(spark):
    from stock_etl_pipeline_spark.operators import dedup

    d = spark.createDataFrame(_EDGE_DOCS, "doc_id long, text string")
    rel = _sorted_rows(dedup.simhash128_signatures(d))
    arr = _sorted_rows(dedup.simhash128_signatures_arrow(d))
    assert arr == rel and len(arr) == len(_EDGE_DOCS) - 2


def test_simhash_arrow_null_token_seam(spark):
    """The Arrow kernel's ``pd.factorize`` codes a None token as -1, which
    would silently index the LAST distinct token's digest. None never gets
    there: NULL, empty and whitespace-only texts are dropped before the
    kernel (the relational explode emits no row for them either), and the
    JVM split never yields a NULL element. The strings "None"/"nan" are
    ordinary tokens on both paths. Spread over three partitions, so some
    batches hold only dropped docs."""
    from stock_etl_pipeline_spark.operators import dedup

    docs = [
        (1, None), (2, ""), (3, "   "), (4, "\t\n "), (5, None),
        (6, "alpha beta gamma"), (7, "  leading and trailing  "),
        (8, "None nan NaN null"), (9, "alpha beta gamma"), (10, None),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string").repartition(3)
    rel = _sorted_rows(dedup.simhash_signatures(d))
    arr = _sorted_rows(dedup.simhash_signatures_arrow(d))
    assert arr == rel
    ids = {r["doc_id"] for r in dedup.simhash_signatures_arrow(d).collect()}
    assert ids == {6, 7, 8, 9}


def test_signatures_arrow_matches_relational_on_corpus(spark, sf_small):
    """Same equivalence over the real sf0.001 documents table (both widths):
    the backends must agree on every doc, not just crafted edges."""
    from stock_etl_pipeline_spark.operators import dedup

    d = spark.read.parquet(f"{sf_small}/documents.parquet").select("doc_id", "text")
    assert _sorted_rows(dedup.simhash_signatures_arrow(d)) == _sorted_rows(
        dedup.simhash_signatures(d)
    )
    assert _sorted_rows(dedup.simhash128_signatures_arrow(d)) == _sorted_rows(
        dedup.simhash128_signatures(d)
    )


def test_simhash_pairs_backend_param_and_env(spark, monkeypatch):
    """signature_backend='jvm' reproduces the arrow default's pair set, and
    the env knob selects the backend when the param is absent."""
    from stock_etl_pipeline_spark.operators import dedup

    d = spark.createDataFrame(_EDGE_DOCS, "doc_id long, text string")
    arrow = _sorted_rows(dedup.simhash_near_dup_pairs(d, signature_backend="arrow"))
    jvm = _sorted_rows(dedup.simhash_near_dup_pairs(d, signature_backend="jvm"))
    assert arrow == jvm and len(arrow) > 0

    monkeypatch.setenv("SPARK_GRAFT_SIMHASH_SIG", "jvm")
    env_jvm = _sorted_rows(dedup.simhash_near_dup_pairs(d))
    assert env_jvm == jvm
    monkeypatch.setenv("SPARK_GRAFT_SIMHASH_SIG", "nope")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="signature backend"):
        dedup.simhash_near_dup_pairs(d)


def test_simhash128_pairs_backend_equivalence(spark):
    from stock_etl_pipeline_spark.operators import dedup

    d = spark.createDataFrame(_EDGE_DOCS, "doc_id long, text string")
    arrow = _sorted_rows(dedup.simhash128_near_dup_pairs(d, signature_backend="arrow"))
    jvm = _sorted_rows(dedup.simhash128_near_dup_pairs(d, signature_backend="jvm"))
    assert arrow == jvm and len(arrow) > 0


def test_minhash_signature_arrow_matches_relational(spark, sf_small):
    """Arrow minhash signatures are bit-identical to the relational
    word_shingles → minhash_signature chain (hs compared as sorted sets —
    collect_set order is undefined) on edge docs and the sf0.001 corpus."""
    from pyspark.sql import functions as F
    from stock_etl_pipeline_spark.operators import dedup

    edge = spark.createDataFrame(
        _EDGE_DOCS + [(11, "one two")],  # < shingle_n words: dropped
        "doc_id long, text string",
    )
    corpus = spark.read.parquet(f"{sf_small}/documents.parquet").select("doc_id", "text")
    for d in (edge, corpus):
        rel = (
            dedup.minhash_signature(
                dedup.word_shingles(d), 20, with_count=True, with_hash_set=True
            )
            .withColumn("hs", F.array_sort("hs"))
        )
        arr = dedup.minhash_signature_arrow(
            d, 20, with_count=True, with_hash_set=True
        )
        assert _sorted_rows(arr) == _sorted_rows(rel)
        assert arr.count() > 0


def test_minhash_lsh_pairs_backend_equivalence(spark, monkeypatch):
    from stock_etl_pipeline_spark.operators import dedup

    d = spark.createDataFrame(_EDGE_DOCS, "doc_id long, text string")
    arrow = _sorted_rows(dedup.minhash_lsh_pairs(d, signature_backend="arrow"))
    jvm = _sorted_rows(dedup.minhash_lsh_pairs(d, signature_backend="jvm"))
    assert arrow == jvm and len(arrow) > 0

    monkeypatch.setenv("SPARK_GRAFT_MINHASH_SIG", "bogus")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="minhash signature backend"):
        dedup.minhash_lsh_pairs(d)


def test_minhash_capped_path_ignores_arrow_backend(spark):
    """shingle_df_cap forces the relational chain regardless of backend (the
    cap needs the global shingle-frequency relation)."""
    from stock_etl_pipeline_spark.operators import dedup

    d = spark.createDataFrame(_EDGE_DOCS, "doc_id long, text string")
    a = _sorted_rows(
        dedup.minhash_lsh_pairs(d, shingle_df_cap=64, signature_backend="arrow")
    )
    j = _sorted_rows(
        dedup.minhash_lsh_pairs(d, shingle_df_cap=64, signature_backend="jvm")
    )
    assert a == j and len(a) > 0


def test_auto_backend_tier(spark, monkeypatch):
    """auto (the default) picks arrow below SIG_ARROW_MAX_DOCS and the
    relational chain above — and both produce the same pairs anyway."""
    from stock_etl_pipeline_spark.operators import dedup

    d = spark.createDataFrame(_EDGE_DOCS, "doc_id long, text string")
    assert dedup._resolve_auto_backend("auto", d) == "arrow"
    monkeypatch.setattr(dedup, "SIG_ARROW_MAX_DOCS", 3)
    assert dedup._resolve_auto_backend("auto", d) == "jvm"
    assert dedup._resolve_auto_backend("arrow", d) == "arrow"  # explicit wins
    default = _sorted_rows(dedup.simhash_near_dup_pairs(d))  # auto → jvm here
    assert default == _sorted_rows(dedup.simhash_near_dup_pairs(d, signature_backend="arrow"))


def test_auto_backend_n_docs_skips_count(spark, monkeypatch):
    """A caller-threaded n_docs resolves `auto` WITHOUT executing the
    frame's plan — the round-7 fix for the derived-input count trap. A
    frame whose count() would raise proves no job runs."""
    from stock_etl_pipeline_spark.operators import dedup

    class _Poisoned:
        def count(self):
            raise AssertionError("auto resolution executed the plan")

    d = _Poisoned()
    assert dedup._resolve_auto_backend("auto", d, n_docs=10) == "arrow"
    assert (
        dedup._resolve_auto_backend("auto", d, n_docs=dedup.SIG_ARROW_MAX_DOCS + 1)
        == "jvm"
    )
    # and the public entry points thread it through
    docs = spark.createDataFrame(_EDGE_DOCS, "doc_id long, text string")
    big = dedup.SIG_ARROW_MAX_DOCS + 1
    arrow = _sorted_rows(dedup.simhash_near_dup_pairs(docs, n_docs=1))
    jvm = _sorted_rows(dedup.simhash_near_dup_pairs(docs, n_docs=big))
    assert arrow == jvm
    a128 = _sorted_rows(dedup.simhash128_near_dup_pairs(docs, n_docs=1))
    j128 = _sorted_rows(dedup.simhash128_near_dup_pairs(docs, n_docs=big))
    assert a128 == j128


def test_minhash_auto_never_counts_input(spark, monkeypatch):
    """minhash `auto` constant-folds to arrow at every scale (SCALING.md r6
    A/B) — unlike simhash there is no size tier, so resolution must never
    run a count job on the input frame (the derived-frame count trap,
    round-7/8 audit). Both the capped and uncapped chains are pinned."""
    from stock_etl_pipeline_spark.operators import dedup

    docs = spark.createDataFrame(_EDGE_DOCS, "doc_id long, text string")

    def boom():
        raise AssertionError("minhash resolution executed a count job")

    monkeypatch.setattr(docs, "count", boom)
    dedup.minhash_lsh_pairs(docs, num_hashes=12, bands=4, threshold=0.5).collect()
    dedup.minhash_lsh_pairs(
        docs, num_hashes=12, bands=4, threshold=0.5, shingle_df_cap=64
    ).collect()


def test_semantic_dedup_int_backend_matches_python_reference(spark):
    """The exact fixed-point pair backend reproduces a pure-python integer
    reference bit-for-bit (pairs AND quantized cosines), and its grouping
    matches the jvm oracle backend on the same corpus."""
    from stock_etl_pipeline_spark.operators import similarity

    corpus = _sem_corpus(spark)
    thr = 0.4

    got = similarity.semantic_dedup(
        corpus, thr, k_clusters=4, iters=2, pair_backend="int",
        propagation_rounds=3,
    )
    jvm = similarity.semantic_dedup(
        corpus, thr, k_clusters=4, iters=2, pair_backend="jvm",
        propagation_rounds=3,
    )
    assert sorted(map(repr, got.collect())) == sorted(map(repr, jvm.collect()))


def test_semantic_dedup_int_backend_partitioning_invariant(spark):
    from stock_etl_pipeline_spark.operators import similarity

    corpus = _sem_corpus(spark)
    a = similarity.semantic_dedup(
        corpus, 0.4, k_clusters=4, iters=2, pair_backend="int",
        propagation_rounds=3,
    )
    b = similarity.semantic_dedup(
        corpus.repartition(13), 0.4, k_clusters=4, iters=2,
        pair_backend="int", propagation_rounds=3,
    )
    assert sorted(map(repr, a.collect())) == sorted(map(repr, b.collect()))


def test_int_cosine_kernel_exactness_reference(spark):
    """Direct pin of the int backend's cosine contract: int64 dot, IEEE
    sqrt/divide on exact inputs, floor-quantize — vs pure-python ints."""
    import math

    from pyspark.sql import functions as SF
    from stock_etl_pipeline_spark.operators import similarity

    rows = [
        (0, [0.25, -0.5, 0.125, 1.0]),
        (1, [0.25, -0.5, 0.125, 1.0]),
        (2, [0.3333333, 0.1, -0.7, 0.2]),
        (3, [-1.5, 2.25, 0.0, 0.75]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.semantic_dedup(
        df, 0.0, k_clusters=1, iters=1, pair_backend="int",
        propagation_rounds=3,
    )
    # pure-python reference over ALL pairs (one cell, threshold 0 → every
    # pair with q >= 0 links; expected grouping = components of that graph)
    ints = {i: [round(x * 1e6) for x in v] for i, v in rows}
    def q(a, b):
        s = sum(x * y for x, y in zip(ints[a], ints[b]))
        na = math.sqrt(float(sum(x * x for x in ints[a])))
        nb = math.sqrt(float(sum(x * x for x in ints[b])))
        return math.floor(float(s) / (na * nb) * 1e6 + 0.5) / 1e6
    import itertools
    linked = [(a, b) for a, b in itertools.combinations(sorted(ints), 2) if q(a, b) >= 0.0]
    parent = {i: i for i in ints}
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in linked:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want_groups = {i: find(i) for i in ints}
    got_groups = {r["vec_id"]: r["group_id"] for r in out.collect()}
    assert got_groups == want_groups


def test_near_dup_keepers_checkpoint_free_equivalent(spark):
    """checkpoint_labels=False (lazily-unrolled rounds) must produce the
    identical keeper labeling — it changes plan shape only."""
    from stock_etl_pipeline_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "doc_a long, doc_b long",
    )
    a = sorted(map(repr, dedup.near_dup_keepers(pairs, rounds=4).collect()))
    b = sorted(
        map(
            repr,
            dedup.near_dup_keepers(
                pairs, rounds=4, checkpoint_labels=False
            ).collect(),
        )
    )
    assert a == b and len(a) > 0


def test_simhash128_index_increment_matches_batch(spark, tmp_path):
    """Index-at-rest contract: increment flags == the batch pair query over
    the unioned corpus, minus pairs internal to what was already indexed —
    across TWO increments (the second must see the first via append), with
    the corpus text never re-read (only the signature index is)."""
    from stock_etl_pipeline_spark.operators.dedup import (
        simhash128_index_increment,
        simhash128_index_write,
        simhash128_near_dup_pairs,
    )

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    other = "totally different words live in this entirely other document"
    dC = spark.createDataFrame(
        [(1, base), (2, base), (3, other), (4, "yet another unrelated text body")],
        "doc_id long, text string",
    )
    dN1 = spark.createDataFrame(
        [(10, base), (12, base), (13, base + " " + base + " extra")],
        "doc_id long, text string",
    )
    dN2 = spark.createDataFrame(
        [(20, base), (21, "fresh unrelated content entirely again")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "simidx")
    rep = simhash128_index_write(dC, path, n_files=2)
    assert rep["destination"] == path

    def keys(df):
        return {(r["doc_a"], r["doc_b"], r["hamming"]) for r in df.collect()}

    old_ids = {1, 2, 3, 4}
    flags1 = keys(simhash128_index_increment(spark, path, dN1))
    batch_cn1 = keys(simhash128_near_dup_pairs(dC.unionByName(dN1)))
    expected1 = {
        p for p in batch_cn1 if not (p[0] in old_ids and p[1] in old_ids)
    }
    assert flags1 == expected1
    assert (1, 2) not in {(a, b) for a, b, _ in flags1}  # old-old excluded
    assert {(a, b) for a, b, h in flags1 if h == 0} >= {(1, 10), (2, 12), (10, 12)}

    # second increment: append made the first increment part of the index
    flags2 = keys(simhash128_index_increment(spark, path, dN2))
    batch_all = keys(
        simhash128_near_dup_pairs(dC.unionByName(dN1).unionByName(dN2))
    )
    prev = old_ids | {10, 12, 13}
    expected2 = {p for p in batch_all if not (p[0] in prev and p[1] in prev)}
    assert flags2 == expected2
    assert (10, 20) in {(a, b) for a, b, _ in flags2}


def test_simhash128_index_increment_no_append_leaves_index(spark, tmp_path):
    from stock_etl_pipeline_spark.operators.dedup import (
        simhash128_index_increment,
        simhash128_index_write,
    )

    dC = spark.createDataFrame(
        [(1, "one corpus document here"), (2, "two corpus documents here")],
        "doc_id long, text string",
    )
    dN = spark.createDataFrame(
        [(9, "one corpus document here")], "doc_id long, text string"
    )
    path = str(tmp_path / "simidx_na")
    simhash128_index_write(dC, path, n_files=1)
    before = spark.read.parquet(path).count()
    out = simhash128_index_increment(spark, path, dN, append=False)
    assert {(r["doc_a"], r["doc_b"]) for r in out.collect()} == {(1, 9)}
    assert spark.read.parquet(path).count() == before
    # index schema is fixed regardless of caller id_col naming
    dC2 = dC.withColumnRenamed("doc_id", "my_id")
    path2 = str(tmp_path / "simidx_named")
    simhash128_index_write(dC2, path2, id_col="my_id", n_files=1)
    assert "doc_id" in spark.read.parquet(path2).columns


def test_exact_dedup_index_increment_matches_batch(spark, tmp_path):
    """Digest-index contract: after write(C) + increment(N1) + increment(N2),
    the merge-on-read view equals the batch hash-groupBy over C∪N1∪N2, and
    each increment's per-doc keeper is the union min REGARDLESS of id order
    across batches (N2 contains an id smaller than an indexed keeper)."""
    from pyspark.sql import functions as F

    from stock_etl_pipeline_spark.operators.dedup import (
        exact_dedup_index_compact,
        exact_dedup_index_increment,
        exact_dedup_index_read,
        exact_dedup_index_write,
    )

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    dC = mk([(10, "alpha  beta"), (11, "ALPHA BETA"), (12, "something else")])
    dN1 = mk([(20, "alpha\tbeta"), (21, "brand new text")])
    # id 5 < every indexed id AND duplicates an indexed fingerprint
    dN2 = mk([(5, "Alpha Beta"), (30, "brand new text")])
    path = str(tmp_path / "fpidx")
    exact_dedup_index_write(dC, path, n_files=1)

    out1 = {
        r["doc_id"]: (r["keeper_doc_id"], r["is_dup"])
        for r in exact_dedup_index_increment(spark, path, dN1).collect()
    }
    # 20 canonicalizes to the same fingerprint as 10/11 -> keeper 10
    assert out1[20] == (10, True)
    assert out1[21] == (21, False)

    out2 = {
        r["doc_id"]: (r["keeper_doc_id"], r["is_dup"])
        for r in exact_dedup_index_increment(spark, path, dN2).collect()
    }
    assert out2[5] == (5, False)  # new min of its group
    assert out2[30] == (21, True)  # dup of the FIRST increment's doc

    batch = {
        r["fingerprint"]: (r["keeper_doc_id"], r["n_copies"])
        for r in dC.unionByName(dN1)
        .unionByName(dN2)
        .selectExpr(
            "md5(lower(regexp_replace(text, '\\\\s+', ' '))) AS fingerprint",
            "doc_id",
        )
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .collect()
    }
    view = {
        r["fingerprint"]: (r["keeper_doc_id"], r["n_copies"])
        for r in exact_dedup_index_read(spark, path).collect()
    }
    assert view == batch

    # health: the delta log's fold factor (rows/distinct) and file count
    # drive the compact trigger; after compaction both reset
    from stock_etl_pipeline_spark.operators.dedup import (
        exact_dedup_index_health,
    )

    h = exact_dedup_index_health(spark, path, max_files=2, max_fold=1.0)
    assert h["fold_factor"] > 1.0 and h["compact_recommended"]
    assert h["files"] >= 3  # write + two increment appends

    # compaction folds the log without changing the view
    n_rows_before = spark.read.parquet(path).count()
    rep = exact_dedup_index_compact(spark, path)
    assert rep["rows"] == len(batch) <= n_rows_before
    view2 = {
        r["fingerprint"]: (r["keeper_doc_id"], r["n_copies"])
        for r in exact_dedup_index_read(spark, path).collect()
    }
    assert view2 == batch
    h2 = exact_dedup_index_health(spark, path)
    assert h2["fold_factor"] == 1.0 and not h2["compact_recommended"]


def test_minhash_index_increment_matches_batch(spark, tmp_path):
    """MinHash index-at-rest contract: increment flags (pairs + exact
    Jaccard stats) == minhash_lsh_pairs over the unioned corpus at the
    index's frozen geometry, minus pairs internal to what was already
    indexed — across TWO increments (the second must see the first via
    append), with the corpus text never re-read or re-signed."""
    from stock_etl_pipeline_spark.operators.dedup import (
        minhash_index_increment,
        minhash_index_write,
        minhash_lsh_pairs,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while seven wizards "
        "brew strong potions beneath ancient oak trees near the river"
    )
    v1 = base.replace("river", "canyon")  # near-dup of base
    other = "completely unrelated prose about tax law and spreadsheet macros"
    dC = spark.createDataFrame(
        [(1, base), (2, v1), (3, other), (4, "short but distinct filler words here")],
        "doc_id long, text string",
    )
    dN1 = spark.createDataFrame(
        [(10, base), (11, base.replace("wizards", "dragons")), (12, other + " extended")],
        "doc_id long, text string",
    )
    dN2 = spark.createDataFrame(
        [(20, v1), (21, "fresh unrelated content entirely again today")],
        "doc_id long, text string",
    )
    geom = dict(num_hashes=20, bands=4, threshold=0.7, shingle_n=3)
    path = str(tmp_path / "mhidx")
    rep = minhash_index_write(dC, path, n_files=2, **geom)
    assert rep["destination"] == path and rep["banned_path"] is None

    def keys(df):
        return {
            (r["doc_a"], r["doc_b"], r["n_a"], r["n_b"], r["inter"],
             round(r["jaccard"], 9))
            for r in df.collect()
        }

    old_ids = {1, 2, 3, 4}
    flags1 = keys(minhash_index_increment(spark, path, dN1))
    batch1 = keys(minhash_lsh_pairs(dC.unionByName(dN1), **geom))
    expected1 = {p for p in batch1 if not (p[0] in old_ids and p[1] in old_ids)}
    assert flags1 == expected1
    assert {(a, b) for a, b, *_ in flags1} >= {(1, 10), (2, 10)}
    assert (1, 2) not in {(a, b) for a, b, *_ in flags1}  # old-old excluded

    flags2 = keys(minhash_index_increment(spark, path, dN2))
    batch_all = keys(
        minhash_lsh_pairs(dC.unionByName(dN1).unionByName(dN2), **geom)
    )
    prev = old_ids | {10, 11, 12}
    expected2 = {p for p in batch_all if not (p[0] in prev and p[1] in prev)}
    assert flags2 == expected2
    assert (10, 20) in {(a, b) for a, b, *_ in flags2}  # N2 sees N1 via append


def test_minhash_index_health_drift_trigger(spark, tmp_path):
    """record_stats + minhash_index_health (VERDICT r10 item 5): organic
    increments keep the candidates/doc ratio near baseline (no rewrite
    recommended); a template-spam stream whose boilerplate crossed the cap
    only after the freeze inflates the banded-candidate statistic and
    trips the 2x trigger; a rewrite resets the history and the verdict."""
    from stock_etl_pipeline_spark.operators.dedup import (
        minhash_index_health,
        minhash_index_increment,
        minhash_index_rewrite,
        minhash_index_write,
    )

    import random

    rng = random.Random(7)
    words = [f"tok{i}" for i in range(300)]

    def doc(i):
        return (i, " ".join(rng.choice(words) for _ in range(40)))

    dC = spark.createDataFrame(
        [doc(i) for i in range(40)], "doc_id long, text string"
    )
    path = str(tmp_path / "mh_health")
    geom = dict(num_hashes=20, bands=4, threshold=0.7, shingle_n=3)
    minhash_index_write(dC, path, n_files=1, shingle_df_cap=8, **geom)
    h0 = minhash_index_health(spark, path)
    assert not h0["rewrite_recommended"] and h0["stats_rows"] == 0

    # organic increments: distinct random docs, near-baseline candidates
    for k in range(3):
        dN = spark.createDataFrame(
            [doc(100 + 10 * k + j) for j in range(5)],
            "doc_id long, text string",
        )
        minhash_index_increment(spark, path, dN, record_stats=True)
    h1 = minhash_index_health(spark, path)
    assert h1["stats_rows"] == 3 and not h1["rewrite_recommended"]

    # template spam: one boilerplate paragraph + unique tails — its
    # shingles were NOT hot at freeze time, so nothing bans them and every
    # spam doc band-collides with every earlier spam doc
    boiler = " ".join(f"spam{i % 7} footer unsubscribe now" for i in range(30))
    for k in range(4):
        dS = spark.createDataFrame(
            [(500 + 20 * k + j, f"{boiler} tail{20 * k + j}") for j in range(10)],
            "doc_id long, text string",
        )
        minhash_index_increment(spark, path, dS, record_stats=True)
    h2 = minhash_index_health(spark, path)
    assert h2["stats_rows"] == 7
    assert h2["ratio"] > 2.0 and h2["rewrite_recommended"], h2

    # rewrite re-freezes the ban set from today's dfs and clears history
    full = dC
    for k in range(3):
        full = full.unionByName(
            spark.createDataFrame(
                [doc(100 + 10 * k + j) for j in range(5)],
                "doc_id long, text string",
            )
        )
    for k in range(4):
        full = full.unionByName(
            spark.createDataFrame(
                [(500 + 20 * k + j, f"{boiler} tail{20 * k + j}")
                 for j in range(10)],
                "doc_id long, text string",
            )
        )
    minhash_index_rewrite(full, path, n_files=1)
    h3 = minhash_index_health(spark, path)
    assert h3["stats_rows"] == 0 and not h3["rewrite_recommended"]
    # post-rewrite spam is banned at signing: a fresh spam increment's
    # candidate statistic stays calm under the new freeze
    dS2 = spark.createDataFrame(
        [(900 + j, f"{boiler} tail x{j}") for j in range(10)],
        "doc_id long, text string",
    )
    minhash_index_increment(spark, path, dS2, record_stats=True)
    h4 = minhash_index_health(spark, path)
    assert h4["stats_rows"] == 1 and not h4["rewrite_recommended"]


def test_minhash_index_capped_frozen_ban_list(spark, tmp_path):
    """Capped-geometry index: the banned hot-shingle relation is FROZEN at
    write time; on a corpus whose hot shingles already exceed the cap at
    write time, increment flags equal the capped batch query over the
    union. Also pins: no_append leaves the index untouched, and a renamed
    id column lands as the fixed doc_id index schema."""
    from stock_etl_pipeline_spark.operators.dedup import (
        minhash_index_increment,
        minhash_index_write,
        minhash_lsh_pairs,
    )

    boiler = "subscribe to our newsletter for updates and follow us online"
    bodies = [
        "alpha omega theta delta gamma words compose one document body",
        "alpha omega theta delta gamma words compose one document draft",  # near-dup of ^
        "finance report quarterly numbers trend upward again this year",
        "gardening tips for growing tomatoes in small city spaces",
        "deep space probes send faint signals across the solar system",
        "recipes for sourdough bread require patience and a starter",
    ]
    dC = spark.createDataFrame(
        [(i, f"{boiler} {b}") for i, b in enumerate(bodies)],
        "doc_id long, text string",
    )
    dN = spark.createDataFrame(
        [
            (10, f"{boiler} alpha omega theta delta gamma words compose one document body"),
            (11, f"{boiler} totally new content with no relatives at all"),
        ],
        "doc_id long, text string",
    )
    geom = dict(num_hashes=20, bands=4, threshold=0.5, shingle_n=3)
    path = str(tmp_path / "mhidx_cap")
    rep = minhash_index_write(dC, path, n_files=1, shingle_df_cap=3, **geom)
    assert rep["banned_path"] == path + "_banned"
    assert spark.read.parquet(rep["banned_path"]).count() > 0  # boiler shingles

    def pk(df):
        return {(r["doc_a"], r["doc_b"]) for r in df.collect()}

    flags = pk(minhash_index_increment(spark, path, dN, append=False))
    batch = pk(minhash_lsh_pairs(dC.unionByName(dN), shingle_df_cap=3, **geom))
    old = set(range(6))
    assert flags == {p for p in batch if not (p[0] in old and p[1] in old)}
    # without the cap the boilerplate mass would glue 11 to everything;
    # capped, 11 matches nothing and the exact-dup family still surfaces
    # ((1, 10) sits on the LSH S-curve shoulder — found or not, parity
    # with the batch query above is the contract)
    assert (0, 10) in flags
    assert not any(11 in p for p in flags)
    before = spark.read.parquet(path).count()
    assert before == 6  # append=False left the index as written

    dC2 = dC.withColumnRenamed("doc_id", "my_id")
    path2 = str(tmp_path / "mhidx_named")
    minhash_index_write(dC2, path2, id_col="my_id", n_files=1, **geom)
    cols = spark.read.parquet(path2).columns
    assert "doc_id" in cols and "bk0" in cols and "hs" in cols


def test_minhash_index_band_join_prunes_columns(spark, tmp_path):
    """The index's economics rest on column pruning: the banded candidate
    join must scan ONLY (doc_id, bk*) from the stored index — neither the
    k minhash columns nor the wide hash-set column. Pinned via the
    optimized plan's parquet ReadSchema."""
    from stock_etl_pipeline_spark.operators.dedup import _bk_bands

    from pyspark.sql import functions as F

    sig = spark.range(8).select(
        F.col("id").alias("doc_id"),
        *[(F.col("id") * (j + 1)).alias(f"minh_{j}") for j in range(8)],
        F.lit(3).cast("bigint").alias("n_sh"),
        F.array(F.lit(1), F.lit(2)).cast("array<bigint>").alias("hs"),
        *[F.md5(F.concat_ws("|", F.col("id") % 2)).alias(f"bk{b}") for b in range(2)],
    )
    path = str(tmp_path / "prune_idx")
    sig.write.parquet(path)
    stored = spark.read.parquet(path)
    bands = _bk_bands(stored, 2, "id_b")
    from stock_etl_pipeline_spark.plans import explain_formatted

    explain = explain_formatted(bands)
    read_schema = [l for l in explain.splitlines() if "ReadSchema" in l]
    assert read_schema, explain
    assert all("hs" not in l and "minh_" not in l and "n_sh" not in l for l in read_schema), (
        read_schema
    )


def test_minhash_banned_b60_matches_cap(spark):
    """A frozen stop-list computed at cap df>N must reproduce the capped
    pipeline bit-for-bit when the corpus is the one the list was computed
    from — the contract that makes index-vs-batch exactness checks (and
    reproducible re-runs against an old index) well-defined."""
    from pyspark.sql import functions as F

    from stock_etl_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        word_shingles_b60,
    )

    boiler = "click here to accept cookies and continue reading the page"
    rows = [
        (i, f"{boiler} document body number {i} with some distinct words {i}")
        for i in range(6)
    ] + [(10, f"{boiler} document body number 0 with some distinct words 0 extra")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    geom = dict(num_hashes=20, bands=4, threshold=0.5)
    banned = (
        word_shingles_b60(df, "doc_id", "text", 3)
        .groupBy("b60").agg(F.count("*").alias("df"))
        .filter(F.col("df") > 3).select("b60")
    )

    def rows_of(out):
        return {
            (r["doc_a"], r["doc_b"], r["n_a"], r["n_b"], r["inter"],
             round(r["jaccard"], 9))
            for r in out.collect()
        }

    capped = rows_of(minhash_lsh_pairs(df, shingle_df_cap=3, **geom))
    frozen = rows_of(minhash_lsh_pairs(df, banned_b60=banned, **geom))
    assert capped == frozen and capped  # non-empty: (0, 10) survives the cap
    import pytest

    with pytest.raises(AssertionError):
        minhash_lsh_pairs(df, shingle_df_cap=3, banned_b60=banned, **geom)


def test_ngram_contamination_flags_and_plan(spark):
    """Contamination verdicts: a train doc embedding a benchmark sentence
    verbatim is flagged; clean and gram-less docs are not; overlap counts
    are exact distinct-gram intersections; the benchmark gram set joins
    as a BROADCAST (bounded-by-construction side, pinned in the plan)."""
    from stock_etl_pipeline_spark.operators.dedup import ngram_contamination
    from stock_etl_pipeline_spark.plans import explain_formatted

    bench = spark.createDataFrame(
        [(100, "the secret benchmark question about ancient rome empire history")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "intro words then the secret benchmark question about ancient rome empire history and more"),
            (2, "completely unrelated training document with plenty of words inside"),
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    out = ngram_contamination(train, bench, n=5, min_overlap=1)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["is_contaminated"] and rows[1]["n_overlap"] == 5
    # bench has 9 words -> 5 five-grams, all inside doc 1's text
    assert not rows[2]["is_contaminated"] and rows[2]["n_overlap"] == 0
    assert rows[3]["n_grams"] == 0 and rows[3]["overlap_frac"] is None
    assert not rows[3]["is_contaminated"]
    assert 0 < rows[1]["overlap_frac"] < 1
    assert "BroadcastHashJoin" in explain_formatted(out)


def test_minhash_index_rewrite_repairs_stoplist_drift(spark, tmp_path):
    """After increments push a NEW boilerplate phrase past the df cap, the
    frozen ban list doesn't know it (documented drift); a same-geometry
    rewrite over the current corpus recomputes the ban set under the
    sidecar's frozen geometry, and post-rewrite increments match the
    capped batch query over the rewritten corpus again."""
    from pyspark.sql import functions as F

    from stock_etl_pipeline_spark.operators.dedup import (
        minhash_index_increment,
        minhash_index_rewrite,
        minhash_index_write,
        minhash_lsh_pairs,
    )

    old_boiler = "subscribe to our newsletter for updates and follow us online"
    new_boiler = "all rights reserved by the publisher under license terms"
    bodies = [f"unique content number {i} about topic {i} entirely" for i in range(6)]
    dC = spark.createDataFrame(
        [(i, f"{old_boiler} {b}") for i, b in enumerate(bodies)],
        "doc_id long, text string",
    )
    geom = dict(num_hashes=20, bands=4, threshold=0.5, shingle_n=3)
    path = str(tmp_path / "mh_rewrite")
    minhash_index_write(dC, path, n_files=1, shingle_df_cap=3, **geom)
    banned0 = spark.read.parquet(path + "_banned").count()

    # increments carrying the NEW boilerplate (df crosses 3 only now)
    dN = spark.createDataFrame(
        [(10 + i, f"{new_boiler} fresh body {i} with words {i}") for i in range(5)],
        "doc_id long, text string",
    )
    minhash_index_increment(spark, path, dN, append=True)
    assert spark.read.parquet(path + "_banned").count() == banned0  # frozen

    full = dC.unionByName(dN)
    rep = minhash_index_rewrite(full, path, n_files=1)
    assert rep["banned_path"] == path + "_banned"
    assert spark.read.parquet(path + "_banned").count() > banned0  # new boiler banned
    meta = spark.read.parquet(path + "_model").collect()[0]
    assert meta["num_hashes"] == 20 and meta["shingle_df_cap"] == 3  # geometry kept

    dN2 = spark.createDataFrame(
        [(20, f"{new_boiler} unique content number 0 about topic 0 entirely")],
        "doc_id long, text string",
    )
    def pk(df):
        return {(r["doc_a"], r["doc_b"]) for r in df.collect()}
    flags = pk(minhash_index_increment(spark, path, dN2, append=False))
    batch = pk(minhash_lsh_pairs(full.unionByName(dN2), shingle_df_cap=3, **geom))
    prev = set(range(6)) | set(range(10, 15))
    assert flags == {p for p in batch if not (p[0] in prev and p[1] in prev)}
    assert (0, 20) in flags  # body match survives; new boiler can't glue doc 20


def test_minhash_capped_shingle_cache_arm_equality(spark, monkeypatch):
    """The r13 shingle-relation cache (df aggregate + anti-join left share
    one explode/md5 pass) must not change the pair set: cached and two-pass
    arms are row-identical on the sf0.001 corpus."""
    from stock_etl_pipeline_spark.caching import release
    from stock_etl_pipeline_spark.workload import load_all

    fn = load_all()["doc_minhash_capped"].fn
    sf = "/root/testdata/sf0.001"
    monkeypatch.delenv("SPARK_GRAFT_MHC_SHINGLE_CACHE", raising=False)
    cached = sorted(map(repr, fn(spark, sf).collect()))
    release()
    monkeypatch.setenv("SPARK_GRAFT_MHC_SHINGLE_CACHE", "0")
    twopass = sorted(map(repr, fn(spark, sf).collect()))
    assert cached == twopass
