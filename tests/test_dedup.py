"""Dedup operators vs brute-force oracles on a corpus with planted near-dups."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vectortiles_spark.operators import dedup

_WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa mu nu xi pi rho".split()


def _corpus(n=60, seed=5):
    """Docs in dissimilar random families + planted near-dup pairs."""
    rng = np.random.Generator(np.random.PCG64(seed))
    texts = []
    for i in range(n):
        words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), 40)]
        texts.append(" ".join(words))
    # planted near-dups: copy with small perturbations
    pairs = []
    for i in range(0, 10, 2):
        words = texts[i].split()
        words[3] = "OMEGA"  # one-word change -> very high jaccard
        texts[i + 1] = " ".join(words)
        pairs.append((i, i + 1))
    return pd.DataFrame({"doc_id": range(n), "text": texts}), pairs


def _shingles(text, k=3):
    toks = text.lower().split()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def _brute_jaccard_pairs(pdf, thresh):
    sh = {r.doc_id: _shingles(r.text) for r in pdf.itertuples()}
    out = set()
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sh[a] & sh[b])
            if inter == 0:
                continue
            j = inter / (len(sh[a]) + len(sh[b]) - inter)
            if j >= thresh:
                out.add((a, b))
    return out


def test_minhash_finds_planted_dups(spark):
    pdf, planted = _corpus()
    docs = spark.createDataFrame(pdf)
    got = {(r.doc_a, r.doc_b) for r in dedup.minhash_near_dups(docs, threshold=0.5).collect()}
    for pair in planted:
        assert pair in got, f"planted near-dup {pair} missed"
    # no false positives below true jaccard ~0.35
    truth = _brute_jaccard_pairs(pdf, 0.35)
    assert got <= truth, f"false positives: {got - truth}"


def test_minhash_estimate_close_to_true_jaccard(spark):
    pdf, planted = _corpus()
    docs = spark.createDataFrame(pdf)
    rows = dedup.minhash_near_dups(docs, threshold=0.5).collect()
    sh = {r.doc_id: _shingles(r.text) for r in pdf.itertuples()}
    for r in rows:
        inter = len(sh[r.doc_a] & sh[r.doc_b])
        true_j = inter / (len(sh[r.doc_a]) + len(sh[r.doc_b]) - inter)
        assert abs(r.est_jaccard - true_j) < 0.25  # 64-hash estimator noise


def test_simhash_exact_dup_distance_zero(spark):
    pdf, _ = _corpus(20)
    clone = pdf.copy()
    clone["doc_id"] += 1000
    docs = spark.createDataFrame(pd.concat([pdf, clone]))
    fp = {r.doc_id: r.simhash for r in dedup.simhash_fingerprints(docs).collect()}
    for i in range(20):
        assert fp[i] == fp[i + 1000]
    assert all(v >= 0 for v in fp.values())


def test_simhash_near_dups_catch_exact_clones(spark):
    pdf, _ = _corpus(20)
    clone = pdf.copy()
    clone["doc_id"] += 1000
    docs = spark.createDataFrame(pd.concat([pdf, clone]))
    got = {(r.doc_a, r.doc_b) for r in dedup.simhash_near_dups(docs, max_hamming=3).collect()}
    for i in range(20):
        assert (i, i + 1000) in got


def test_minhash_signature_stable_across_partitioning(spark):
    pdf, _ = _corpus(30)
    one = dedup.minhash_signatures(spark.createDataFrame(pdf).repartition(1))
    many = dedup.minhash_signatures(spark.createDataFrame(pdf).repartition(7))
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, many.collect()))


def _null_on_beta(c):
    """Shingle hasher that yields NULL for every shingle containing 'beta'."""
    return F.when(F.instr(c, "beta") > 0, F.lit(None).cast("long")).otherwise(
        dedup.default_hasher(c)
    )


def test_minhash_signature_null_hashes_match_min(spark):
    """NULL shingle hashes are skipped as min() skips them: signatures equal
    a plain groupBy().agg(min(...)) over the same shingle relation, a doc
    whose every hash is NULL included (its signature is all NULL)."""
    pdf, _ = _corpus(30)
    pdf.loc[len(pdf)] = [1000, "beta beta beta beta beta"]
    docs = spark.createDataFrame(pdf).repartition(3)
    sh = dedup.shingle_docs(docs, hasher=_null_on_beta)
    assert sh.filter(F.col("h31").isNull()).count() > 0
    ref = sh.groupBy("doc_id").agg(
        *[
            F.min(F.pmod(F.lit(a) * F.col("h31") + F.lit(b), F.lit(dedup._P))).alias(f"mh{i}")
            for i, (a, b) in enumerate(dedup._hash_params(dedup._H))
        ]
    )
    got = sorted(map(tuple, dedup.minhash_signatures(docs, hasher=_null_on_beta).collect()))
    want = sorted(map(tuple, ref.collect()))
    assert got == want
    assert [r for r in got if r[0] == 1000] == [(1000,) + (None,) * dedup._H]


def test_band_bucket_cap_bounds_degenerate_clusters(spark):
    """2000 identical docs would make every LSH band bucket quadratic
    (2M pairs per band) without the cap; with band_cap the candidate space
    is bounded at cap^2 and the job completes returning exactly the kept
    subset's pairs."""
    n, cap = 2000, 50
    pdf = pd.DataFrame({"doc_id": range(n), "text": ["same boiler plate text here"] * n})
    docs = spark.createDataFrame(pdf).repartition(4)
    got = dedup.minhash_near_dups(docs, threshold=0.5, band_cap=cap).collect()
    # all bands hash identically -> one bucket; kept docs = first `cap` by id
    assert len(got) == cap * (cap - 1) // 2
    assert max(max(r.doc_a, r.doc_b) for r in got) == cap - 1
    assert all(r.est_jaccard == 1.0 for r in got)


def test_block_cap_bounds_simhash_clusters(spark):
    n, cap = 1000, 40
    pdf = pd.DataFrame({"doc_id": range(n), "text": ["identical tokens forever again"] * n})
    docs = spark.createDataFrame(pdf).repartition(4)
    got = dedup.simhash_near_dups(docs, block_cap=cap).collect()
    assert len(got) == cap * (cap - 1) // 2
    assert all(r.hamming == 0 for r in got)


def test_cap_does_not_change_planted_dup_recall(spark):
    pdf, planted = _corpus()
    docs = spark.createDataFrame(pdf)
    # default cap (200) far above any honest bucket here: results unchanged
    base = {(r.doc_a, r.doc_b) for r in dedup.minhash_near_dups(docs, threshold=0.5, band_cap=10**9).collect()}
    capped = {(r.doc_a, r.doc_b) for r in dedup.minhash_near_dups(docs, threshold=0.5).collect()}
    assert base == capped


def test_simhash_pair_blocks_guarantee_and_fallback(spark):
    """Pair-block keys: planted near-identical docs still collide (pigeonhole
    over block pairs for hamming <= n_blocks-2), and the fallback single-
    block path engages when max_hamming is too large for pairs."""
    pdf, planted = _corpus()
    docs = spark.createDataFrame(pdf)
    got = {(r.doc_a, r.doc_b) for r in dedup.simhash_near_dups(docs, max_hamming=6).collect()}
    for pair in planted:
        assert pair in got, f"planted near-dup {pair} missed by pair-block LSH"
    # fallback path (max_hamming = n_blocks - 1): still catches exact clones
    clone = pd.DataFrame({"doc_id": [0, 1], "text": ["xyzzy plugh foo bar"] * 2})
    got2 = dedup.simhash_near_dups(spark.createDataFrame(clone), max_hamming=7).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in got2] == [(0, 1, 0)]


def test_caps_bound_100k_mass_duplicates_in_bounded_time(spark):
    """VERDICT r2 #7: the quadratic guard at a scale where the quadratic
    would actually hurt — 100k IDENTICAL docs put 100k rows in every LSH
    band bucket (5x10^9 candidate pairs per band uncapped; the join would
    not finish). With the caps the candidate space is cap^2, results are
    exactly the kept subset's pairs, and the jobs complete within a wall
    bound (measured 12.6s / 5.7s steady-state; bounds sized ~14-20x for
    this host's documented 4-8x time-varying slowdowns — uncapped, the
    5e9-pair join would run for hours or OOM, so even the loose bound
    proves the guard)."""
    import time

    n, cap = 100_000, 50
    pdf = pd.DataFrame(
        {"doc_id": range(n), "text": ["same boiler plate text here"] * n}
    )
    docs = spark.createDataFrame(pdf).repartition(16)

    t0 = time.perf_counter()
    got = dedup.minhash_near_dups(docs, threshold=0.5, band_cap=cap).collect()
    minhash_wall = time.perf_counter() - t0
    assert len(got) == cap * (cap - 1) // 2
    assert max(max(r.doc_a, r.doc_b) for r in got) == cap - 1
    assert minhash_wall < 180.0, f"minhash 100k mass-dup took {minhash_wall:.1f}s"
    spark.catalog.clearCache()

    t0 = time.perf_counter()
    got2 = dedup.simhash_near_dups(docs, block_cap=cap).collect()
    simhash_wall = time.perf_counter() - t0
    assert len(got2) == cap * (cap - 1) // 2
    assert all(r.hamming == 0 for r in got2)
    assert simhash_wall < 120.0, f"simhash 100k mass-dup took {simhash_wall:.1f}s"


def test_hamming_near_dups_rejects_unsupported_params(spark):
    """Silently-incomplete recall is not allowed: out-of-range n_blocks
    (shift wrap) and max_hamming beyond the pigeonhole guarantee raise."""
    import pytest as _pytest

    fps = spark.createDataFrame([(1, 5), (2, 7)], "doc_id long, fingerprint long")
    from vectortiles_spark.operators.dedup import hamming_near_dups

    with _pytest.raises(ValueError, match="n_blocks"):
        hamming_near_dups(fps, max_hamming=6, n_blocks=16)
    with _pytest.raises(ValueError, match="pigeonhole"):
        hamming_near_dups(fps, max_hamming=8, n_blocks=8)


# ---------------------------------------------------------------- clusters


def _brute_components(n_nodes, edges):
    """Union-find oracle: {node: min id in its component}."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in range(n_nodes)}


def _cluster_df(spark, edges):
    return spark.createDataFrame(
        pd.DataFrame({"doc_a": [a for a, _ in edges], "doc_b": [b for _, b in edges]})
    )


def test_dedup_clusters_matches_union_find(spark):
    """Random sparse graph + singletons vs a union-find oracle."""
    rng = np.random.Generator(np.random.PCG64(11))
    n = 200
    edges = [tuple(sorted(p)) for p in rng.integers(0, n, (150, 2)) if p[0] != p[1]]
    nodes = spark.range(n).withColumnRenamed("id", "doc_id")
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.dedup_clusters(_cluster_df(spark, edges), nodes=nodes).collect()
    }
    want = _brute_components(n, edges)
    assert got == want


def test_dedup_clusters_long_chain_converges_in_log_rounds(spark):
    """A 64-node path is the worst case for plain propagation (64 rounds);
    pointer jumping must land it within ~log2(64)+slack rounds — this is
    the property that makes the operator usable on adversarial chains at
    corpus scale."""
    edges = [(i, i + 1) for i in range(63)]
    out = dedup.dedup_clusters(_cluster_df(spark, edges), max_iters=10).collect()
    assert {r.cluster_id for r in out} == {0}
    assert len(out) == 64


def test_dedup_clusters_no_edges_and_no_nodes_arg(spark):
    """Without a nodes frame only edge endpoints are labeled; an empty
    edge list with a nodes frame yields all-singleton clusters."""
    nodes = spark.range(5).withColumnRenamed("id", "doc_id")
    empty = _cluster_df(spark, [(0, 1)]).filter("doc_a < 0")
    out = dedup.dedup_clusters(empty, nodes=nodes).collect()
    assert {(r.doc_id, r.cluster_id) for r in out} == {(i, i) for i in range(5)}
    out2 = dedup.dedup_clusters(_cluster_df(spark, [(3, 7), (7, 9)])).collect()
    assert {(r.doc_id, r.cluster_id) for r in out2} == {(3, 3), (7, 3), (9, 3)}


def test_dedup_clusters_partitioning_independent(spark):
    edges = [(0, 1), (1, 2), (5, 6), (8, 8)]
    df = _cluster_df(spark, edges)
    a = sorted(
        (r.doc_id, r.cluster_id)
        for r in dedup.dedup_clusters(df.repartition(1)).collect()
    )
    b = sorted(
        (r.doc_id, r.cluster_id)
        for r in dedup.dedup_clusters(df.repartition(13)).collect()
    )
    assert a == b


def test_dedup_clusters_unconverged_raises(spark):
    edges = [(i, i + 1) for i in range(40)]
    with pytest.raises(RuntimeError, match="max_iters"):
        dedup.dedup_clusters(_cluster_df(spark, edges), max_iters=2)


def test_dedup_clusters_string_ids(spark):
    """String/UUID doc ids: the old convergence probe cast labels to
    DECIMAL (NULL for strings), so sum==NULL tied on round 1 and the loop
    exited with silently-partial clusters. A path long enough to need >1
    round plus a union-find oracle pins the fix."""
    n = 12
    names = [f"doc-{chr(97 + i)}" for i in range(n)]
    edges = [(i, i + 1) for i in range(n - 1)] + [(0, 5)]
    sedges = spark.createDataFrame(
        pd.DataFrame(
            {"doc_a": [names[a] for a, _ in edges],
             "doc_b": [names[b] for _, b in edges]}
        )
    )
    got = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters(sedges).collect()}
    want_int = _brute_components(n, edges)
    want = {names[v]: names[c] for v, c in want_int.items()}
    assert got == want
