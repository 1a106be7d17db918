"""Deduplication operators for large-scale corpus pipelines.

Exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine
near-dup — all expressed as DataFrame transforms whose heavy lifting
stays JVM-side (hash/array expressions); the only shuffles are the
groupBys/joins inherent to the algorithms.

Scale notes (100 TB):
- exact dedup: one hash-groupBy shuffle on a 64-bit fingerprint —
  near-perfectly distributed keys, AQE coalesces the tail;
- MinHash LSH: candidate generation is band-bucket explode + self-join
  on (band, bucket); bucket keys are uniform by construction, and the
  explode factor is `bands`, a constant. The final verify step only
  touches candidate pairs, never the full cross product;
- SimHash: 64-bit signatures; near-dup = identical band keys over
  4 x 16-bit chunks (Hamming <= 3-ish recall), verified by popcount.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import bind_once, shingles, word_ngrams

# Cross-engine hash machinery. xxhash64 is the fast path (JVM intrinsic)
# but is not expressible in ANSI SQL, so near-dup results could only be
# rows-checked against the DuckDB oracle. hash_family="md5" swaps in a
# universal-hash family over a 60-bit md5-prefix base hash — identical
# arithmetic is expressible in DuckDB (cast(concat('0x', substr(md5(s),
# 1,15)) as bigint)), making the full near-dup pipeline value-checkable
# cross-engine. Family i: (a_i * h + b_i) mod P over h = base mod P,
# with P = 2^31 - 1 (products stay under 2^62: ANSI-overflow-safe).
MD5_PRIME = 2_147_483_647


def md5_family_constants(num_hashes: int, seed: int = 9) -> tuple[list[int], list[int]]:
    """Deterministic (a, b) universal-hash constants, shared by the
    Spark operators and the generated DuckDB oracle SQL."""
    import numpy as np

    rng = np.random.default_rng(seed)
    a = rng.integers(1, MD5_PRIME, size=num_hashes).tolist()
    b = rng.integers(0, MD5_PRIME, size=num_hashes).tolist()
    return a, b


def md5_base_hash(col: Column) -> Column:
    """60-bit base hash: first 15 hex chars of md5 as a non-negative
    long — bit-identical to DuckDB's
    cast(concat('0x', substr(md5(s),1,15)) as bigint)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprints: list[Column] | None = None,
) -> DataFrame:
    """Exact dedup: keep the lowest-id document per identical text.
    Fingerprint first so the shuffle key is 16 bytes, not the document;
    then min(id) per fingerprint — one shuffle with map-side partial
    aggregation.

    The fingerprint is 128-bit by default (two independently-seeded
    xxhash64 limbs): a single 64-bit key silently merges DISTINCT
    documents once the corpus nears 10^9-10^10 (birthday bound n^2/2^65
    gives ~1.5M false merges at n=10^10); at 128 bits the expected
    collision count at n=10^10 is ~3e-19. ``fingerprints`` overrides the
    limb expressions (tests inject a deliberately-colliding first limb to
    prove the second one disambiguates)."""
    t = F.trim(F.col(text_col))
    if fingerprints is None:
        fingerprints = [F.xxhash64(t), F.xxhash64(t, F.lit(1))]
    fp_names = [f"__fp{i}" for i in range(len(fingerprints))]
    keep = (
        df.select(F.col(id_col), *[fp.alias(n) for fp, n in zip(fingerprints, fp_names)])
        .groupBy(*fp_names)
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, on=id_col, how="left_semi")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    k: int = 5,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash signature array per document: for each of num_hashes
    seeded hash functions, min over shingle hashes. Expression-only:
    transform(hashes, h -> array_min(transform(shingles, s -> f_i(s)))).

    hash_family="xxhash64" (default, fastest) or "md5" (DuckDB-oracle-
    expressible universal family, see module header)."""
    # Hash every shingle to a long ONCE (the expensive string hash),
    # then derive the num_hashes families by cheap integer arithmetic
    # on that long — ~30x cheaper than re-hashing the string per family
    # (and ANSI-safe: no overflow in either family).
    # Measured and REJECTED alternative: folding all families in one
    # aggregate(zip_with(least)) pass is ~16% faster steady-state but
    # its generated code takes ~2s longer to compile — a net LOSS for
    # run-once pipelines (8.2s vs 6.0s at sf0.1 bench conditions).
    # Round-4 follow-up A/B (CHUNKED aggregates, 4-16 families per
    # pass, signature stage alone at sf0.1 local[32]): hot-path wins up
    # to 1.6x (1.93s -> 1.24s at chunk=4) but cold (compile-inclusive)
    # is a wash (4.89 vs 4.7-5.7s) — kept rejected for the run-once
    # default; chunk~4 is the knob to flip for a PERSISTENT pipeline
    # that signatures the same corpus repeatedly.
    if hash_family == "md5":
        a_c, b_c = md5_family_constants(num_hashes)

        def family(i):
            return lambda h: F.pmod(F.lit(a_c[i]) * h + F.lit(b_c[i]), F.lit(MD5_PRIME))

        base = lambda s: F.pmod(md5_base_hash(s), F.lit(MD5_PRIME))  # noqa: E731
    else:

        def family(i):
            return lambda h: F.xxhash64(h, F.lit(i))

        base = lambda s: F.xxhash64(s)  # noqa: E731
    out = df.withColumn("__h", F.transform(shingles(text_col, k=k), base))
    sigs = F.array(
        *[
            F.array_min(F.transform(F.col("__h"), family(i)))
            for i in range(num_hashes)
        ]
    )
    return out.withColumn("minhash", sigs).drop("__h")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 5,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = 2000,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH, verified
    by estimated Jaccard (signature agreement rate).

    Returns (id_a, id_b, est_jaccard) with id_a < id_b. est_jaccard is
    the exact agreement fraction (agree / num_hashes, unrounded): both
    engines compute the identical int/int double division, so the value
    is bit-stable cross-engine.

    hash_family="md5" makes the whole pipeline (signatures, banding,
    verification) replicable in ANSI SQL — the DuckDB oracle for this
    operator is generated from the same constants (see
    __spark_entry__.py). xxhash64 stays the at-scale default.

    max_bucket_size guards the candidate self-join against pathological
    corpora (a band bucket holding m ids yields m^2 pairs): buckets
    larger than the cap are dropped from candidate generation, trading
    recall on extreme-duplication clusters for a hard bound on join
    blow-up — the standard LSH production guard. None disables.
    """
    rows_per_band = num_hashes // bands
    src = df.select(id_col, text_col)
    # shingling+hashing is CPU-heavy per doc: if the source has fewer
    # partitions than cores (small-file corpora), fan out first
    par = df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(par)
    sig = minhash_signatures(src, text_col, num_hashes, k, hash_family)
    # No persist: both join sides read the SAME banded exchange
    # (ReusedExchange), so signatures are computed exactly once per
    # run anyway — caching them only added a materialization pass
    # (measured a wash-to-slightly-slower at the bench corpus), and at
    # corpus scale pinning every signature in executor storage is
    # memory pressure with no reader.
    sig = sig.select(id_col, "minhash")

    def band_bucket(i):
        sl = F.slice("minhash", i * rows_per_band + 1, rows_per_band)
        if hash_family == "md5":
            # md5 of the comma-joined slice — the oracle replicates the
            # HEX form (md5(string_agg(mh, ',' ORDER BY f))); unhex is
            # injective, so grouping by the 16-byte BINARY yields the
            # identical buckets while the candidate shuffle ships half
            # the key bytes (32-char hex -> 16-byte binary)
            return F.unhex(
                F.md5(F.concat_ws(",", F.transform(sl, lambda x: x.cast("string"))))
            )
        # a LONG, not its 32-char string rendering: the candidate
        # exchange carries (band, bucket, id) per banded row — the
        # bucket key is the dominant byte cost at num_hashes/bands
        # typical settings
        return F.xxhash64(sl, F.lit(i))

    try:
        # The signature array RIDES the candidate exchange (band,
        # bucket, id, minhash): the (band, bucket) shuffle is then the
        # ONLY exchange that scales with the corpus — bands x n x
        # (sig + key bytes), independent of how many candidate pairs
        # the buckets produce. The previous id-only design shuffled a
        # skinny banded stream but then had to (a) DISTINCT the raw
        # pair stream (O(candidate pairs) exchange — 6.5M pairs from a
        # 50k-doc corpus with heavy duplication, measured) and (b) join
        # the signatures back onto the pairs twice. Verifying inline on
        # the join output costs only per-row compute (32-slot zip_with)
        # on duplicated pairs, never a shuffle; the dedup runs AFTER
        # the threshold filter, on survivors only. Measured at the
        # 50k-doc bench corpus, local[32]: 3.8s -> 2.8s for the
        # post-signature stages; identical output (est_jaccard is a
        # function of the pair, so filter/distinct commute).
        banded = sig.select(
            F.col(id_col),
            F.col("minhash"),
            F.posexplode(
                F.array(*[band_bucket(i) for i in range(bands)])
            ).alias("band", "bucket"),
        )
        if max_bucket_size is not None:
            from pyspark.sql.window import Window as _W

            bucket_n = F.count("*").over(_W.partitionBy("band", "bucket"))
            banded = (
                banded.withColumn("__bn", bucket_n)
                .filter(F.col("__bn") <= max_bucket_size)
                .drop("__bn")
            )
        a = banded.select(
            "band", "bucket",
            F.col(id_col).alias("id_a"), F.col("minhash").alias("__sig_a"),
        )
        b = banded.select(
            "band", "bucket",
            F.col(id_col).alias("id_b"), F.col("minhash").alias("__sig_b"),
        )
        # both join sides are the SAME banded subtree: the static
        # explain prints it twice, but exchange reuse materializes the
        # (band, bucket) shuffle stage ONCE at runtime — measured: the
        # full pipeline runs no faster with the signatures persisted,
        # so the signature pass executes exactly once. At bench sizes
        # the post-window banded stream sits under the broadcast
        # threshold and the join is a BroadcastHashJoin; at corpus
        # scale the estimates push it to a shuffled join on the
        # already-partitioned stream.
        # estimated jaccard = fraction of agreeing signature positions
        est = F.size(
            F.filter(F.zip_with("__sig_a", "__sig_b", lambda x, y: x == y), lambda v: v)
        ) / F.size("__sig_a")
        out = (
            a.join(b, on=["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("est_jaccard", est)
            .filter(F.col("est_jaccard") >= jaccard_threshold)
            .dropDuplicates(["id_a", "id_b"])
            .select("id_a", "id_b", "est_jaccard")
        )
        # Lazy on purpose: the builder runs no job. Iterating consumers
        # must pin the pair list themselves — connected_components
        # already localCheckpoints its edge input eagerly, so the
        # pairs->clusters path computes this pipeline exactly once.
        # (The old trailing localCheckpoint existed to materialize
        # before unpersisting the signature cache; with no cache it
        # only added a second materialization pass per run.)
    finally:
        sig.unpersist()  # no-op unless a caller re-adds the persist
    return out


def simhash64(col: Column | str, k: int = 5, hash_family: str = "xxhash64") -> Column:
    """SimHash over character shingles, expression-only.

    For each bit b: sum over shingles of sign(bit b of the shingle
    hash) and take the majority. The shingle set is hashed ONCE into a
    long array; aggregate() then folds the +/-1 votes per bit over the
    longs (cheap integer ops, not repeated string hashing).

    hash_family="xxhash64": 64-bit signature. "md5": 60-bit signature
    (15-hex md5 prefix; all bits non-negative longs) — replicable in
    DuckDB SQL for the oracle."""
    sh = shingles(col, k=k)
    if hash_family == "md5":
        nbits = 60
        hashed = F.transform(sh, md5_base_hash)
    else:
        nbits = 64
        hashed = F.transform(sh, lambda s: F.xxhash64(s))

    def voter(mask):
        # factory closure: F.aggregate inspects lambda arity, so the
        # mask must be captured, not passed as a default argument
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(mask) != 0, 1
        ).otherwise(-1)

    def classic(harr):
        # one aggregate fold per bit — works for any shingle count
        bits = []
        for b in range(nbits):
            mval = (1 << b) if b < 63 else -(1 << 63)  # signed-long-safe bit 63
            mask = F.lit(mval).cast("long")
            vote = F.aggregate(harr, F.lit(0).cast("long"), voter(mask))
            bits.append(F.when(vote > 0, mask).otherwise(F.lit(0).cast("long")))
        out = bits[0]
        for bcol in bits[1:]:
            out = out.bitwiseOR(bcol)
        return out

    # SWAR packed counters: group g folds bits {g, g+16, g+32, g+48}
    # as four 16-bit counters inside one long —
    # (h >>> g) & 0x0001000100010001 drops each of those bits at its
    # counter's LSB, so one add accumulates four bit-counts at once.
    # 16 folds with 3 cheap integer ops per element replace nbits (60/
    # 64) folds of compare+branch+add: the per-bit vote is sum(+/-1)
    # = 2*count - n, so bit b is set iff 2*count_b > n — identical
    # output (a null hash adds 0 to every count and 1 to n, exactly
    # the classic fold's unconditional -1). Counters are exact up to
    # 65535 shingles; rarer longer documents take the classic branch.
    SPREAD = 0x0001000100010001

    def swar(harr):
        def counters(g):
            return F.aggregate(
                harr,
                F.lit(0).cast("long"),
                lambda acc, h: acc
                + F.coalesce(
                    F.shiftrightunsigned(h, g).bitwiseAND(
                        F.lit(SPREAD).cast("long")
                    ),
                    F.lit(0).cast("long"),
                ),
            )

        def unpack(accs):
            n = F.size(harr)
            out = None
            for b in range(nbits):
                g, m = b % 16, b // 16
                cnt = F.shiftrightunsigned(
                    F.element_at(accs, g + 1), 16 * m
                ).bitwiseAND(F.lit(0xFFFF).cast("long"))
                mval = (1 << b) if b < 63 else -(1 << 63)
                bit = F.when(cnt * 2 > n, F.lit(mval).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
                out = bit if out is None else out.bitwiseOR(bit)
            return out

        return bind_once(F.array(*[counters(g) for g in range(16)]), unpack)

    def build(harr):
        # ``harr`` is the hashed-shingle array bound ONCE: captured
        # directly, the shingling+hashing subtree would re-evaluate in
        # EVERY aggregate fold (see text.bind_once)
        return F.when(F.size(harr) <= 0xFFFF, swar(harr)).otherwise(
            classic(harr)
        )

    return bind_once(hashed, build)


def simhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs: band the signature into 4 chunks
    (pigeonhole: hamming<=3 implies >=1 identical chunk), self-join on
    (chunk_idx, chunk), verify exact Hamming distance.

    Chunks are 16-bit for the 64-bit xxhash64 signature, 15-bit for the
    60-bit md5 one."""
    cbits = 15 if hash_family == "md5" else 16
    cmask = (1 << cbits) - 1
    sig = df.select(id_col, simhash64(text_col, hash_family=hash_family).alias("__sim"))
    # the chunk self-join scans this frame on BOTH sides; the explicit
    # join-key exchange below the two aliased sides is one identical
    # subtree, so the planner reuses it (ReusedExchange) and the
    # signature pass runs once, with no job at build time
    chunks = sig.select(
        id_col,
        "__sim",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("__sim", cbits * i).bitwiseAND(F.lit(cmask))
                    for i in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    ).repartition("chunk_idx", "chunk")
    a = chunks.select("chunk_idx", "chunk", F.col(id_col).alias("id_a"), F.col("__sim").alias("__sa"))
    b = chunks.select("chunk_idx", "chunk", F.col(id_col).alias("id_b"), F.col("__sim").alias("__sb"))
    ham = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
    # verify BEFORE deduplicating: hamming is a pure function of the
    # pair, so the threshold filter commutes with the distinct — the
    # dedup exchange then carries only survivors instead of every
    # (chunk-duplicated) candidate row with both signatures aboard
    return (
        a.join(b, on=["chunk_idx", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    round_digits: int | None = 4,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs sharing at
    least one n-gram. Inverted-index join (explode ngrams, self-join on
    ngram) -> exact Jaccard via array intersect/union sizes.
    Quadratic in the worst case — the exact verifier for small/medium
    corpora or post-LSH candidates; use minhash_lsh_pairs at scale.

    round_digits=None emits the exact |A∩B|/|A∪B| double (an int/int
    division both engines compute identically — used by the DuckDB
    value oracle)."""
    # |A ∩ B| IS the join multiplicity: word_ngrams arrays are
    # distinct, so a candidate pair appears in the inverted-index join
    # once per SHARED gram — counting those rows gives the exact
    # intersection size, and |A ∪ B| = |A| + |B| - |A ∩ B| from the
    # per-doc sizes riding the index. The old formulation carried both
    # full gram ARRAYS through the join and ran array_intersect/union
    # per candidate row; this one shuffles only (gram, id, size) and
    # aggregates with map-side partial counts. Identical values: the
    # same |∩|/|∪| integers feed the same double division.
    grams = df.select(F.col(id_col), word_ngrams(text_col, n).alias("__g"))
    inv = grams.select(
        id_col, F.size("__g").alias("__sz"), F.explode("__g").alias("gram")
    )
    a = inv.select(
        F.col("gram"), F.col(id_col).alias("id_a"), F.col("__sz").alias("__sza")
    )
    b = inv.select(
        F.col("gram"), F.col(id_col).alias("id_b"), F.col("__sz").alias("__szb")
    )
    pairs = (
        a.join(b, on="gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "__sza", "__szb")
        .agg(F.count("*").alias("__c"))
    )
    jac = F.col("__c") / (F.col("__sza") + F.col("__szb") - F.col("__c"))
    if round_digits is not None:
        jac = F.round(jac, round_digits)
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bits: int = 12,
    seed: int = 7,
) -> DataFrame:
    """Embedding cosine near-dup via random-hyperplane LSH buckets +
    exact cosine verify within buckets (see similarity.py for the
    shared hyperplane machinery)."""
    from .similarity import add_hyperplane_bucket, cosine

    with_b = add_hyperplane_bucket(df, vec_col, bits=bits, seed=seed)
    a = with_b.select(F.col("__bucket"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = with_b.select(F.col("__bucket"), F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    cos = cosine(F.col("__va"), F.col("__vb"))
    return (
        a.join(b, on="__bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cos, 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-dup pair list -> (id, component)
    with component = the MINIMUM member id — the clustering step that
    turns pairwise near-dup output (minhash/simhash/embedding) into
    keep-one-per-cluster dedup decisions.

    Algorithm: iterative min-label propagation expressed as DataFrame
    joins (small-star-ish). Each round every node takes the min label
    among itself and its neighbors; convergence in O(diameter) rounds
    (near-dup clusters are tiny and dense, so 2-4 rounds in practice;
    max_iter bounds pathological chains). Each round is ONE join + ONE
    groupBy on uniformly distributed ids — no driver-side graph, no
    collect; intermediate results are localCheckpoint()ed so the plan
    (and Spark's lineage) stays constant-size across iterations.

    100-TB notes: label propagation's shuffle volume is O(edges) per
    round; for corpus dedup the edge list is the (already blow-up-
    guarded) near-dup pair output, orders of magnitude smaller than the
    corpus. For billion-edge general graphs use the large/small-star
    algorithm; this is the corpus-dedup-shaped cut of it.
    """
    # symmetric edge list + self-loops: a node's neighborhood includes
    # itself, so isolated pair members and the min itself are stable
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .unionByName(e.select(F.col("src").alias("src"), F.col("src").alias("dst")))
        .unionByName(e.select(F.col("dst").alias("src"), F.col("dst").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "component", F.col("id")
    ).localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iter):
        propagated = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            propagated.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        # superseded checkpoint blocks would otherwise pin executor
        # storage until driver GC catches up (review finding)
        labels.unpersist()
        labels = propagated
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        # silently returning half-propagated labels would split true
        # clusters (and diverge from the oracle's full closure) with no
        # hint of the cause — fail loudly instead (review finding)
        labels.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(graph diameter exceeds max_iter); raise max_iter"
        )
    return labels


def dup_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_docs: int = 2,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Per-document duplicated-span statistics — the CCNet/Dolma-style
    corpus-hygiene pass that catches boilerplate and templated spans
    exact/near-dup DOCUMENT matching misses: a k-gram POSITION in a doc
    is "duplicated" when its word k-gram occurs in >= min_docs distinct
    documents corpus-wide. Returns (id, n_grams, dup_grams,
    dup_fraction); filter on dup_fraction downstream.

    Text normalization matches word_ngrams (lower + whitespace
    collapse), positions are NOT deduplicated (a span repeated inside
    one doc counts every time, like Dolma's ngram counter).

    Scale shape: grams ride every shuffle as 8-byte hashes, never
    strings (hash_family="xxhash64" default; "md5" = the module's
    DuckDB-replicable 60-bit family, used by the value-checked oracle —
    a hash collision perturbs BOTH engines identically, so the gate is
    collision-proof). Three exchanges: gram doc-frequency groupBy,
    flagged-gram join back, per-doc aggregate. The flagged-gram side is
    df-filtered (typically tiny vs the corpus) so AQE broadcasts it.
    """
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    words = F.split(norm, " ")

    def build_grams(ws):
        n = F.size(ws)
        gram_str = lambda i: F.array_join(F.slice(ws, i + 1, k), " ")  # noqa: E731
        if hash_family == "md5":
            gh = lambda i: md5_base_hash(gram_str(i))  # noqa: E731
        else:
            gh = lambda i: F.xxhash64(gram_str(i))  # noqa: E731
        return F.when(
            n >= k, F.transform(F.sequence(F.lit(0), n - k), gh)
        ).otherwise(F.array().cast("array<bigint>"))

    # bind the split-word array once (captured it would re-split per
    # gram position — see text.bind_once)
    grams = bind_once(words, build_grams)
    ex = df.select(F.col(id_col), F.explode(grams).alias("__g"))
    flagged = (
        ex.groupBy("__g")
        .agg(F.count_distinct(F.col(id_col)).alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select("__g")
    )
    # ONE per-doc aggregate computes both totals and flagged counts: a
    # left join against the (df-filtered, typically tiny) flagged set
    # marks each position, then count(*) / count(marker) aggregate in
    # the same pass — the old separate `tot` groupBy re-evaluated the
    # whole explode+hash stream a third time (no exchange to reuse
    # between the two aggregations)
    marked = ex.join(
        flagged.withColumn("__hit", F.lit(1)), "__g", "left"
    )
    stats = marked.groupBy(id_col).agg(
        F.count("*").alias("n_grams"),
        F.count("__hit").alias("dup_grams"),
    )
    return (
        df.select(id_col)
        .join(stats, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("dup_grams", F.lit(0)).alias("dup_grams"),
            # unrounded long/long double division — bit-stable
            # cross-engine (same IEEE op both sides), like est_jaccard
            F.coalesce(
                F.coalesce("dup_grams", F.lit(0))
                / F.when(F.coalesce("n_grams", F.lit(0)) > 0, F.col("n_grams")),
                F.lit(0.0),
            ).alias("dup_fraction"),
        )
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    k: int = 13,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Benchmark decontamination (the GPT-3-style 13-gram rule): flag
    training documents sharing ANY word k-gram with an evaluation/
    benchmark corpus, so they can be dropped before training. Returns
    (id, contaminated_grams, contaminated) per training doc.

    Shape at 100 TB: the benchmark side is tiny (eval sets are
    thousands of docs), so its DISTINCT gram-hash set broadcasts — the
    training corpus is scanned ONCE, its grams never shuffle (the
    explode feeds a broadcast semi-join, then a per-doc aggregate whose
    clustering comes from the doc scan). The default k=13 follows the
    published GPT-3 appendix-C rule; lower it toward 8 for stricter
    filtering.

    hash_family="md5" makes the gram hashing DuckDB-replicable for the
    value-checked oracle; a collision perturbs both engines identically
    (and at xxhash64 scale a false positive merely drops one clean
    doc — the conservative direction for decontamination)."""
    from ..functions.text import _word_gram_hashes

    dg = docs.select(
        F.col(id_col),
        F.explode(_word_gram_hashes(F.col(text_col), k, hash_family)).alias("__g"),
    )
    bg = benchmark.select(
        F.explode(
            _word_gram_hashes(F.col(bench_text_col), k, hash_family)
        ).alias("__g")
    ).distinct()
    hits = (
        dg.join(F.broadcast(bg), "__g")
        .groupBy(id_col)
        .agg(F.count("*").alias("contaminated_grams"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("contaminated_grams", F.lit(0)).alias(
                "contaminated_grams"
            ),
            (F.coalesce("contaminated_grams", F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )
