"""Distributed deduplication operators: exact, MinHash+LSH, SimHash.

Design for 100 TB: everything is Column algebra — shingling is
split/transform, hashing is xxhash64, the H minhash "permutations" are H
aggregate expressions over ONE exploded shingle relation (a single shuffle
keyed by doc_id), and LSH banding turns the quadratic candidate search into
an equi-join on (band_id, band_key). No Python executes per row.

Exact dedup is in plans/queries_text.py (md5 groupBy). Embedding-cosine
near-dup is in operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# universal-hash family over 31-bit hashes: (a*h + b) mod P with P = 2^31-1
# (Mersenne prime). 31-bit h and a < P keep a*h+b < 2^62 — no int64 overflow
# under Spark's default ANSI arithmetic.
_P = 2147483647
_H = 64            # minhash signature length
_BANDS = 16        # 16 bands x 4 rows: catches jaccard >~ 0.5
_ROWS = _H // _BANDS


def _hash_params(n: int, seed: int = 1234567):
    """Deterministic (a, b) pairs via splitmix-style integer mixing."""
    out = []
    x = seed
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = 1 + x % (_P - 1)
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % _P
        out.append((a, b))
    return out


def default_hasher(c):
    """31-bit shingle hash via xxhash64 — the fast production path."""
    return F.xxhash64(c).bitwiseAND(F.lit(0x7FFFFFFF))


def portable_hasher(c):
    """31-bit shingle hash reproducible in ANY SQL engine (md5 is
    bit-identical everywhere): conv(substr(md5(s),1,8),16,10) & (2^31-1).
    Slower than xxhash64 — use when the pipeline must be replayed or
    audited outside Spark (the driver's DuckDB oracle does exactly this)."""
    return (
        F.conv(F.substring(F.md5(c), 1, 8), 16, 10)
        .cast("long")
        .bitwiseAND(F.lit(0x7FFFFFFF))
    )


def portable_hasher63(c):
    """63-bit portable hash from two md5 halves, ANSI-overflow-safe on both
    engines: (hi & 2^31-1) * 2^32 + lo < 2^63. Bit 63 is always clear —
    exactly the bit simhash keeps clear anyway."""
    hi = (
        F.conv(F.substring(F.md5(c), 1, 8), 16, 10)
        .cast("long")
        .bitwiseAND(F.lit(0x7FFFFFFF))
    )
    lo = F.conv(F.substring(F.md5(c), 9, 8), 16, 10).cast("long")
    return hi * F.lit(4294967296) + lo


def _widen_for_derived_compute(docs: DataFrame) -> DataFrame:
    """Parallelism guard for explode-heavy map stages: shingling expands
    each doc into ~L shingles and the signature stage then evaluates H
    hash expressions per shingle (map-side partial aggregation), so the
    right task count for the map stage is set by the DERIVED work, not the
    input bytes. A small corpus (one parquet file under maxPartitionBytes)
    scans as ONE partition and serializes that whole pipeline on a single
    core — measured 5.7s vs 0.75s for sf0.1 signatures; r4's distinct-drop
    exposed this because the removed Exchange had been (accidentally)
    re-parallelizing the aggregate stage. One cheap shuffle of the raw
    docs buys full parallelism; when the input already carries >=
    defaultParallelism partitions (any real-scale table) this is a no-op.
    """
    if docs.isStreaming:
        return docs
    try:
        parts = docs.rdd.getNumPartitions()
        target = docs.sparkSession.sparkContext.defaultParallelism
    except Exception:  # noqa: BLE001 — a plan that can't convert keeps its layout
        return docs
    return docs.repartition(target) if parts < target else docs


def shingle_arrays(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    distinct_in_array: bool = False,
) -> DataFrame:
    """(doc_id, shingles ARRAY<STRING>) — raw word-k-gram shingle arrays,
    the shared Column pipeline under shingle_docs AND the exact-Jaccard
    query (one construction, two consumers — they must stay in lockstep
    with the DuckDB oracles).

    The token split is MATERIALIZED as its own column before the shingle
    lambdas touch it: referencing the split expression from inside
    transform() would inline a fresh regex split per shingle index
    (O(words x shingles) splits per doc — measured 4-7x slower at sf0.1).
    CollapseProject keeps the boundary because the non-cheap split is
    referenced more than once. Docs shorter than k yield an empty array."""
    toked = _widen_for_derived_compute(docs).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("__toks"),
    )
    arr = F.transform(
        F.sequence(F.lit(0), F.size("__toks") - k),
        lambda i: F.concat_ws(" ", F.slice("__toks", i + 1, k)),
    )
    if distinct_in_array:
        arr = F.array_distinct(arr)
    shingles = F.when(F.size("__toks") >= k, arr).otherwise(
        F.array().cast("array<string>")
    )
    return toked.select("doc_id", shingles.alias("shingles"))


def shingle_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    hasher=None,
    distinct: bool = False,
) -> DataFrame:
    """(doc_id, shingle_hash64) — word-k-gram shingles, hashed JVM-side
    (array construction: shingle_arrays). By default the relation keeps
    duplicate shingles: the only in-repo consumer (minhash_signatures)
    min-aggregates, which is duplicate-insensitive, and a .distinct()
    here would be a SECOND full Exchange of the suite's largest relation
    right before the groupBy's own exchange. Pass distinct=True only when
    a downstream consumer genuinely needs set semantics per doc."""
    # explode_OUTER, not explode: for a plain explode Catalyst's
    # InferFiltersFromGenerate infers `size(shingles) > 0` and pushes it
    # all the way to the scan — and since `shingles` is the whole
    # CASE/transform construction, that pushed filter RE-BUILDS every
    # doc's shingle array a second time, below the widening exchange, on
    # however few partitions the raw file has (measured: a 5.6s serial
    # stage at sf0.1, the dominant cost of the minhash suite entry). No
    # filter can be inferred across an outer generate; empty-array docs
    # surface as one NULL shingle row that the existing `!= ''`
    # null-rejecting predicate already drops.
    sh = (
        shingle_arrays(docs, id_col, text_col, k)
        .select("doc_id", F.explode_outer("shingles").alias("shingle"))
        .filter(F.col("shingle") != "")
        .select("doc_id", (hasher or default_hasher)(F.col("shingle")).alias("h31"))
    )
    return sh.distinct() if distinct else sh


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    hasher=None,
) -> DataFrame:
    """MinHash signature as H columns mh0..mh{H-1}: a NumPy mapInArrow
    pass computes per-run partial minima of the H permutations over the
    exploded shingle relation, then one groupBy merges them — map-side
    combinable with exactly ONE Exchange between the explode and the
    signatures (plan-pinned in tests/test_audit.py).

    The H "permutations" are (a * h31 + b) mod P evaluated as int64
    NumPy array ops (a < P and h31 < 2^31 keep a*h+b < 2^62 — no
    overflow, and % on non-negative int64 equals Spark's pmod exactly,
    so the signature values are bit-identical to the former 64-
    aggregate-expression formulation — which cost ~20 executor-CPU-s
    per pass at sf1.0 evaluating 640M interpreted pmod chains; the
    vectorized pass is ~10x cheaper, guide §4.2). Partial minima are
    emitted per run of equal doc_ids within each Arrow batch (no
    ordering assumption — split or scattered runs just emit several
    partials and the final min() merges them). The shingle relation is
    NOT pre-distinct'd — min() is duplicate-insensitive."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    sh = shingle_docs(docs, id_col, text_col, k, hasher=hasher)
    params = _hash_params(_H)
    A = np.asarray([a for a, _ in params], dtype=np.int64).reshape(-1, 1)
    B = np.asarray([b for _, b in params], dtype=np.int64).reshape(-1, 1)
    id_t = sh.schema["doc_id"].dataType.simpleString()
    out_schema = ", ".join(
        [f"doc_id {id_t}"] + [f"mh{i} bigint" for i in range(_H)]
    )

    def partial_mins(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            did = b.column(b.schema.get_field_index("doc_id"))
            hc = b.column(b.schema.get_field_index("h31"))
            h = (hc.fill_null(0) if hc.null_count else hc).to_numpy(
                zero_copy_only=False
            )
            if n == 1:
                starts = np.zeros(1, dtype=np.int64)
            else:
                change = pc.fill_null(
                    pc.not_equal(did.slice(1), did.slice(0, n - 1)), True
                )  # null ids: every null-adjacent row starts a run; the
                #    final groupBy still merges NULL-keyed partials
                starts = np.concatenate(
                    (
                        [0],
                        np.flatnonzero(
                            change.to_numpy(zero_copy_only=False)
                        )
                        + 1,
                    )
                ).astype(np.int64)
            vals = (A * h + B) % _P
            if hc.null_count:
                # min() skips NULLs: a NULL hash row takes the value _P,
                # above every real one, and a run with no other row gets
                # a NULL minimum, as min() over all-NULL input does
                vals[:, ~hc.is_valid().to_numpy(zero_copy_only=False)] = _P
            mins = np.minimum.reduceat(vals, starts, axis=1)
            null = mins == _P if hc.null_count else None
            cols = {"doc_id": did.take(pa.array(starts))}
            for i in range(_H):
                cols[f"mh{i}"] = pa.array(
                    mins[i], pa.int64(), mask=None if null is None else null[i]
                )
            yield pa.record_batch(cols)

    part = sh.mapInArrow(partial_mins, out_schema)
    return part.groupBy("doc_id").agg(
        *[F.min(f"mh{i}").alias(f"mh{i}") for i in range(_H)]
    )


def _cap_buckets(
    rows: DataFrame, key_cols: list[str], cap: int, order_col: str = "doc_id"
) -> DataFrame:
    """Deterministic LSH bucket-size guard: keep only the first `cap` docs
    (by `order_col`) in any bucket. A degenerate hot bucket (mass-duplicated
    boilerplate hashing to one band key) would otherwise go QUADRATIC
    inside the self-join at 100 TB; capping bounds any bucket's pair count
    at cap^2 while an honest near-dup cluster of any size still surfaces
    through its first `cap` members (and exact dedup catches the identical
    mass separately). The window shuffles on the same key as the join, so
    the exchange is reused."""
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    return (
        rows.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= cap)
        .drop("__rk")
    )


def minhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 3,
    band_cap: int = 200,
    hasher=None,
) -> DataFrame:
    """Near-duplicate pairs via LSH banding + signature-similarity filter.

    Pipeline: signatures -> explode into (doc_id, band_id, band_key) where
    band_key hashes the band's rows -> self-equi-join on (band_id, band_key)
    (the LSH candidate generator) -> estimate Jaccard as the fraction of
    agreeing minhashes -> keep pairs >= threshold. Buckets larger than
    `band_cap` are deterministically truncated (see _cap_buckets).

    Output: (doc_a, doc_b, est_jaccard) with doc_a < doc_b.

    Note: the signature table is materialized once and reused (it feeds
    the band pass AND both verify joins). Batch inputs use
    localCheckpoint(eager=True) — a plain block write, measured ~15
    executor-CPU-seconds cheaper than the columnar .cache() build of the
    65-column table at sf1.0 — and it doubles as the materialization
    barrier that keeps the verify joins' broadcast-exchange jobs from
    recomputing the whole shingle->signature DAG concurrently (the 6s
    `withThreadLocalCaptured` rebuild in BENCH r4's attribution).
    Streaming inputs keep .cache() (localCheckpoint is batch-only);
    caches live until the app ends or spark.catalog.clearCache().
    """
    sig = minhash_signatures(docs, id_col, text_col, k, hasher=hasher)
    if docs.isStreaming:
        sig = sig.cache()
    else:
        sig = sig.localCheckpoint(eager=True)
    band_rows = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.xxhash64(*[F.col(f"mh{b * _ROWS + r}") for r in range(_ROWS)]).alias("band_key"),
        )
        for b in range(_BANDS)
    ]
    banded = sig.select("doc_id", F.explode(F.array(*band_rows)).alias("band")).select(
        "doc_id", "band.band_id", "band.band_key"
    )
    # bucket-grouped pair generation (guide §2.4): ONE aggregation per
    # (band_id, band_key) bucket replaces the banded self-equi-join — the
    # r5 shape computed the banded+capped relation twice (once per join
    # side; ~12 executor-CPU-s at sf1.0, the exchanges were not reused)
    # and then shuffled both copies. array_sort + slice reproduces
    # _cap_buckets' deterministic "first `band_cap` docs by doc_id"
    # truncation inside the aggregate, and the nested transform emits
    # exactly the (doc_a < doc_b) pairs the self-join produced; pair
    # count per bucket stays bounded by band_cap^2 as before.
    bucket = banded.groupBy("band_id", "band_key").agg(
        F.slice(F.array_sort(F.collect_list("doc_id")), 1, band_cap).alias("__ids")
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("__ids"),
            lambda x, i: F.transform(
                F.slice(F.col("__ids"), i + 2, F.size(F.col("__ids"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    cand = (
        bucket.select(F.explode(pair_arr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(_H)])
    sb = sig.select(F.col("doc_id").alias("doc_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(_H)])
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(_H)
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est_jaccard", F.round(agree / F.lit(float(_H)), 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
        .orderBy("doc_a", "doc_b")
    )


def dedup_clusters(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    max_iters: int = 50,
) -> DataFrame:
    """Connected components over a near-dup edge list: (id, cluster_id)
    where cluster_id is the MINIMUM id in the component — the canonical
    "collapse near-dup pairs into dedup clusters and keep one
    representative" step that follows any LSH pass.

    Algorithm (MapReduce-CC family — Kiveris et al., "Connected
    Components in MapReduce and Beyond"): min-label propagation fused
    with pointer jumping. Each round (a) every node takes the min of its
    own label and its neighbors' labels — one edges⋈labels hash join +
    min-aggregate; (b) labels shortcut through their own label
    (lbl <- lbl(lbl)) — one labels self-join. Pointer jumping halves
    label-chain depth per round, so a path of length D converges in
    O(log D) rounds, not O(D); an adversarial 100M-doc chain is ~27
    rounds, real near-dup clusters (tiny diameters) take 2-3.

    Scale shape per round: both joins shuffle on the label/id hash only
    — no quadratic blowup, no driver-side state beyond one DECIMAL(38)
    sum per round (the convergence probe: labels only ever decrease, so
    the label-sum is strictly decreasing until fixpoint; comparing two
    scalars replaces a full-relation diff join). Lineage is truncated
    every round via localCheckpoint — for multi-hour cluster jobs where
    executor loss matters, set a reliable checkpoint dir and swap in
    .checkpoint().

    ``nodes`` (a 1-column id DataFrame) adds isolated docs as singleton
    clusters; without it only ids appearing in some edge are labeled.
    Raises RuntimeError if not converged within max_iters (loud, never
    silently-partial clusters)."""
    e = edges.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    e = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct().cache()
    if nodes is None:
        ids = e.select(F.col("a").alias("id")).distinct()
    else:
        (col,) = nodes.columns
        ids = nodes.select(F.col(col).alias("id")).distinct()
    labels = ids.select("id", F.col("id").alias("lbl")).cache()
    # Convergence probe. Numeric ids: exact DECIMAL(38,0) label sum —
    # labels only ever decrease, so the sum strictly decreases until
    # fixpoint, and DECIMAL(38) holds 10^12 rows of int64 sums (a BIGINT
    # sum would overflow: job-killing under ANSI, silently wrong
    # elsewhere). Non-numeric ids (string/UUID): casting to decimal
    # yields NULL, so sum a 64-bit row hash of (id,lbl) instead — and
    # because a hash-sum tie is only probabilistic evidence, an apparent
    # fixpoint is CONFIRMED with one exact changed-row count (runs once,
    # at convergence), keeping the 'never silently-partial' contract.
    from pyspark.sql.types import NumericType

    exact_probe = isinstance(labels.schema["lbl"].dataType, NumericType)
    if exact_probe:
        probe_col = F.sum(F.col("lbl").cast("decimal(38,0)"))
    else:
        probe_col = F.sum(
            F.xxhash64(F.col("id"), F.col("lbl")).cast("decimal(38,0)")
        )
    probe = lambda df: df.agg(probe_col.alias("s")).collect()[0]["s"]

    def _confirmed(old, new) -> bool:
        if exact_probe:
            return True
        changed = (
            new.alias("n")
            .join(old.alias("o"), "id")
            .filter(~F.col("n.lbl").eqNullSafe(F.col("o.lbl")))
        )
        return changed.limit(1).count() == 0

    prev = probe(labels)
    for _ in range(max_iters):
        nbr = (
            e.join(labels, e["a"] == labels["id"])
            .select(F.col("b").alias("id"), "lbl")
            .groupBy("id")
            .agg(F.min("lbl").alias("nlbl"))
        )
        upd = labels.join(nbr, "id", "left").select(
            "id", F.least("lbl", F.coalesce("nlbl", "lbl")).alias("lbl")
        )
        parent = upd.select(F.col("id").alias("lbl"), F.col("lbl").alias("plbl"))
        jumped = (
            upd.join(parent, "lbl", "left")
            .select("id", F.coalesce("plbl", "lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
        cur = probe(jumped)
        if cur == prev and _confirmed(labels, jumped):
            labels.unpersist()
            e.unpersist()
            return jumped.select(
                F.col("id").alias(id_col), F.col("lbl").alias(cluster_col)
            )
        labels.unpersist()
        labels = jumped
        prev = cur
    e.unpersist()
    raise RuntimeError(
        f"dedup_clusters: no fixpoint within max_iters={max_iters} "
        "(pointer jumping needs ~log2(chain length) rounds — raise max_iters)"
    )


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", hasher=None
) -> DataFrame:
    """64-bit SimHash per doc: explode tokens, hash once, then 63
    sign-sum aggregates recombined into one BIGINT — single shuffle,
    map-side partial aggregation on every bit column. `hasher` defaults
    to xxhash64; pass portable_hasher63 for SQL-replayable fingerprints."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tok = _widen_for_derived_compute(docs).select(
        F.col(id_col).alias("doc_id"), F.explode(toks).alias("t")
    ).filter(F.col("t") != "")
    hashed = tok.select("doc_id", (hasher or F.xxhash64)(F.col("t")).alias("h"))
    bit_aggs = [
        F.sum(
            F.when(F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(63)  # bit 63 stays clear in the fingerprint: no dead agg
    ]
    sums = hashed.groupBy("doc_id").agg(*bit_aggs)
    fp = sum(
        F.when(F.col(f"s{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        for i in range(63)  # bit 63 kept clear: fingerprint stays non-negative
    )
    return sums.select("doc_id", fp.alias("simhash"))


def hamming_near_dups(
    fps: DataFrame,
    max_hamming: int = 6,
    n_blocks: int = 8,
    block_cap: int = 200,
    id_col: str = "doc_id",
    fp_col: str = "fingerprint",
) -> DataFrame:
    """Near-dup pairs over ANY 64-bit fingerprint column (SimHash, image
    phash, ...) via block-permutation LSH over BLOCK PAIRS: split the
    fingerprint into n_blocks 8-bit blocks and join on every pair of
    blocks (C(n_blocks,2) keys of 16 bits). By pigeonhole, any pair
    within max_hamming <= n_blocks - 2 bits leaves >= 2 blocks
    untouched, so at least one block PAIR matches exactly; the exact
    popcount filter then verifies. Pair keys have a 2^16 value space per
    key (vs 2^8 for single blocks), so random buckets stay tiny at
    planet scale and the `block_cap` truncation guard (see _cap_buckets)
    only ever bites degenerate mass-duplicate clusters, not honest
    buckets. Requires max_hamming <= n_blocks - 2; falls back to single
    blocks (guarantee max_hamming <= n_blocks - 1, small-corpus only)
    otherwise. Output: (id_a, id_b, hamming), id_a < id_b."""
    # fail loudly instead of returning silently-incomplete results:
    # the fingerprint has eight 8-bit blocks (shift amounts past 63 would
    # WRAP under Java's long shift and duplicate blocks 0-7), and even the
    # single-block fallback's pigeonhole guarantee ends at n_blocks - 1
    if not 1 <= n_blocks <= 8:
        raise ValueError(
            f"hamming_near_dups: n_blocks={n_blocks} — a 64-bit fingerprint "
            "has at most eight 8-bit blocks"
        )
    if max_hamming > n_blocks - 1:
        raise ValueError(
            f"hamming_near_dups: max_hamming={max_hamming} exceeds the "
            f"pigeonhole recall guarantee of n_blocks={n_blocks} "
            "(single-block fallback covers <= n_blocks - 1); qualifying "
            "pairs would be silently missing"
        )
    fp = fps.select(F.col(id_col).alias("__id"), F.col(fp_col).alias("__fp"))
    blk = lambda i: F.shiftrightunsigned(F.col("__fp"), i * 8).bitwiseAND(F.lit(255))
    if max_hamming <= n_blocks - 2:
        keys = [
            F.struct(
                F.lit(i * n_blocks + j).alias("block_id"),
                F.shiftleft(blk(i), 8).bitwiseOR(blk(j)).alias("block_val"),
            )
            for i in range(n_blocks)
            for j in range(i + 1, n_blocks)
        ]
    else:
        keys = [
            F.struct(F.lit(i).alias("block_id"), blk(i).alias("block_val"))
            for i in range(n_blocks)
        ]
    blocks = fp.select(
        "__id", "__fp", F.explode(F.array(*keys)).alias("blk")
    ).select("__id", "__fp", "blk.block_id", "blk.block_val")
    blocks = _cap_buckets(blocks, ["block_id", "block_val"], block_cap, order_col="__id")
    if not fps.isStreaming:
        # materialize ONCE: the a/b self-join otherwise recomputes the
        # fingerprint -> explode -> cap-window pipeline for each side
        # (the exchanges are not reused across the aliases); a block
        # write of (id, fp, block keys) is cheap next to that
        blocks = blocks.localCheckpoint(eager=True)
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__fp").alias("ha"),
            F.col("b.__fp").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


def simhash_near_dups(
    docs: DataFrame,
    max_hamming: int = 6,
    n_blocks: int = 8,
    block_cap: int = 200,
    hasher=None,
) -> DataFrame:
    """SimHash near-dups: fingerprint (single shuffle), then the generic
    block-pair LSH join (see hamming_near_dups for the pigeonhole/cap
    guarantees). ``hasher`` passes through to simhash_fingerprints (e.g.
    portable_hasher63 for an externally replayable pipeline). The
    fingerprint table is .cache()'d (it feeds the join twice); the cache
    lives until the app ends or spark.catalog.clearCache() — same note
    as minhash_near_dups. Output: (doc_a, doc_b, hamming)."""
    fp = simhash_fingerprints(docs, hasher=hasher).cache()
    # same materialization barrier as minhash_near_dups: the block self-
    # join's broadcast build would otherwise recompute the fingerprint DAG
    # on a cold cache
    if not docs.isStreaming:
        fp.count()
    return hamming_near_dups(
        fp, max_hamming, n_blocks, block_cap, id_col="doc_id", fp_col="simhash"
    ).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming"
    )
