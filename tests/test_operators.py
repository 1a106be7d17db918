"""Operator tests: relational parity ops (SURVEY.md 2.2-2.7), dedup
family, similarity search, as-of join."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from oregonwaterdataportal_etl_spark.operators import (
    asof,
    dedup,
    relational,
    similarity,
)


# ---------------------------------------------------------------- relational
def test_lookup_join_and_vocab(spark):
    keys = spark.createDataFrame([("s1",), ("s2",)], ["station"])
    dim = spark.createDataFrame(
        [("s1", "Alpha"), ("s2", "Beta"), ("s3", "Gamma")], ["station", "name"]
    )
    out = relational.lookup_join(keys, dim, "station")
    assert sorted(r["name"] for r in out.collect()) == ["Alpha", "Beta"]

    df = spark.createDataFrame([("flow",), ("mystery",)], ["prop"])
    vocab = spark.createDataFrame([("flow", "Streamflow")], ["prop", "mapped"])
    # AWQMS arm: default fallback
    got = relational.vocab_join(df, vocab, "prop", "mapped", default=F.lit("Unknown"))
    assert {r["prop"]: r["mapped"] for r in got.collect()} == {
        "flow": "Streamflow",
        "mystery": "Unknown",
    }
    # WRD arm: miss is error
    with pytest.raises(ValueError, match="missed the vocabulary"):
        relational.assert_no_misses(
            relational.vocab_join(df, vocab, "prop", "mapped"), "mapped"
        )


def test_new_rows_only(spark):
    upd = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    tgt = spark.createDataFrame([(2, "x")], ["k", "v"])
    out = relational.new_rows_only(upd, tgt, ["k"])
    assert sorted(r["k"] for r in out.collect()) == [1, 3]


def test_newer_than_watermark(spark):
    obs = spark.createDataFrame(
        [("s1", 5), ("s1", 15), ("s2", 3), ("s3", 1)], ["key", "t"]
    )
    wm = spark.createDataFrame([("s1", 10), ("s2", 1)], ["key", "wm"])
    out = relational.newer_than_watermark(obs, wm, "key", "t", "wm")
    got = sorted((r["key"], r["t"]) for r in out.collect())
    # s1: only t=15 passes; s2: t=3 > 1 passes; s3: no watermark -> passes
    assert got == [("s1", 15), ("s2", 3), ("s3", 1)]


def test_unpivot_flags(spark):
    df = spark.createDataFrame([("s1", 1, 0), ("s2", 1, 1)], ["station", "flow", "stage"])
    out = relational.unpivot_flags(df, ["station"], ["flow", "stage"])
    active = out.filter(F.col("value") == 1)
    assert sorted((r["station"], r["flag"]) for r in active.collect()) == [
        ("s1", "flow"),
        ("s2", "flow"),
        ("s2", "stage"),
    ]


def test_having_first_wins_argmax_latest(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0), ("b", 1, 5.0)],
        ["k", "seq", "v"],
    )
    hv = relational.having_count_at_least(df, ["k"], 2)
    assert [r["k"] for r in hv.collect()] == ["a"]
    fw = relational.first_wins_dedup(df, ["k"], [F.asc("seq")])
    assert {(r["k"], r["seq"]) for r in fw.collect()} == {("a", 1), ("b", 1)}
    am = relational.argmax_dedup(df, ["k"], "v")
    assert {(r["k"], r["v"]) for r in am.collect()} == {("a", 30.0), ("b", 5.0)}
    lt = relational.latest_per_key(df, ["k"], "seq")
    assert {(r["k"], r["seq"]) for r in lt.collect()} == {("a", 3), ("b", 1)}


def test_time_range_union_asserts(spark):
    df = spark.createDataFrame([("a", 1), ("a", 9), ("b", 4)], ["k", "t"])
    tr = relational.time_range_per_key(df, ["k"], "t")
    assert {(r["k"], r["range_start"], r["range_end"]) for r in tr.collect()} == {
        ("a", 1, 9),
        ("b", 4, 4),
    }
    u = relational.union_distinct(
        spark.createDataFrame([(1,), (2,)], ["x"]), spark.createDataFrame([(2,), (3,)], ["x"])
    )
    assert sorted(r["x"] for r in u.collect()) == [1, 2, 3]


# ------------------------------------------------------------------- dedup
DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the river bend today"),  # near dup of 1
    (4, "completely different content about machine learning and neural networks"),
    (5, "short text"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup(spark, docs):
    out = dedup.exact_dedup(docs)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3, 4, 5]


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # exact dup always found
    assert (1, 3) in got or (2, 3) in got  # near dup found
    assert all((4 not in p and 5 not in p) for p in got)


def test_simhash_pairs(spark, docs):
    pairs = dedup.simhash_dedup_pairs(docs, max_hamming=3)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got.get((1, 2)) == 0
    assert all(4 not in k and 5 not in k for k in got)


def test_minhash_md5_family_equivalent(spark, docs):
    """The DuckDB-expressible md5 hash family finds the same duplicate
    structure as the xxhash64 fast path."""
    pairs = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5, hash_family="md5")
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs.collect()}
    assert got.get((1, 2)) == 1.0  # exact dup: all 64 positions agree
    assert all((4 not in p and 5 not in p) for p in got)
    # est is an exact multiple of 1/num_hashes (unrounded by design)
    assert all(abs(v * 64 - round(v * 64)) < 1e-12 for v in got.values())


def test_simhash_md5_family(spark, docs):
    pairs = dedup.simhash_dedup_pairs(docs, max_hamming=3, hash_family="md5")
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got.get((1, 2)) == 0
    assert all(4 not in k and 5 not in k for k in got)


def test_simhash_pairs_build_lazily_and_share_one_exchange(spark, docs):
    """Building the simhash pairs frame runs no Spark job, and both sides
    of the chunk self-join read one exchange: the executed plan reuses
    it, so the signature pass runs once."""
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    pairs = dedup.simhash_dedup_pairs(docs, max_hamming=3)
    assert set(st.getJobIdsForGroup(None)) == before
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} >= {(1, 2)}
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan


def test_ngram_jaccard(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got.get((1, 2)) == 1.0
    assert (1, 3) in got and 0.5 <= got[(1, 3)] < 1.0


# -------------------------------------------------------------- similarity
@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(0)
    base = rng.standard_normal(8)
    rows = [(0, [float(x) for x in base])]
    for i in range(1, 30):
        noise = rng.standard_normal(8) * (0.01 if i < 5 else 1.0)
        rows.append((i, [float(x) for x in base + noise]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"]), base


def test_brute_force_topk(spark, vectors):
    df, base = vectors
    out = similarity.brute_force_topk(df, [float(x) for x in base], k=5).collect()
    assert out[0]["vec_id"] == 0 and out[0]["cosine"] == 1.0
    assert {r["vec_id"] for r in out} <= set(range(5))  # the 4 near-copies + self


def test_lsh_topk_recalls_self(spark, vectors):
    df, base = vectors
    out = similarity.lsh_topk(df, [float(x) for x in base], k=3, bits=6, probes=2).collect()
    assert out and out[0]["vec_id"] == 0


def test_embedding_neardup(spark, vectors):
    df, _ = vectors
    pairs = dedup.embedding_neardup_pairs(df, threshold=0.999, bits=6)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got and all(a < 5 and b < 5 for a, b in got)


def test_knn_join(spark, vectors):
    df, base = vectors
    queries = df.filter(F.col("vec_id") < 2)
    out = similarity.knn_join_pandas(df, queries, k=3)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1}
    for q, rs in by_q.items():
        assert len(rs) == 3
        assert rs[0]["corpus_id"] == q  # self is nearest


def test_knn_join_block_path_matches_broadcast(spark, vectors):
    """The distributed block nested-loop path (no driver collect of the
    query side) returns exactly the broadcast path's answer."""
    df, base = vectors
    queries = df.filter(F.col("vec_id") < 4)
    bc = similarity.knn_join_pandas(df, queries, k=3)
    blk = similarity.knn_join(
        df, queries, k=3, broadcast_threshold=0, num_blocks=3
    )
    key = lambda r: (r["query_id"], r["corpus_id"], r["cosine"])  # noqa: E731
    assert sorted(map(key, blk.collect())) == sorted(map(key, bc.collect()))


def test_lsh_multiprobe_perturbation_sets():
    """Multi-probe bucket enumeration: unique buckets, best-first by
    summed flip cost, meaningful past bits+1 probes (multi-bit flips),
    and probes=2^bits enumerates the whole bucket space."""
    rng = np.random.default_rng(11)
    q = rng.standard_normal(16)
    q = [float(x) for x in q / np.linalg.norm(q)]
    bits = 5
    full = similarity.lsh_probe_buckets(q, bits=bits, probes=2 ** bits)
    assert sorted(full) == list(range(2 ** bits))
    some = similarity.lsh_probe_buckets(q, bits=bits, probes=12)
    assert some == full[:12]  # deterministic best-first prefix
    assert len(set(some)) == 12  # > bits+1 distinct buckets
    from oregonwaterdataportal_etl_spark.operators.similarity import (
        _hyperplanes,
    )

    planes = _hyperplanes(len(q), bits, 7)
    m = planes @ np.asarray(q)
    qb = full[0]

    def cost(b):
        flip = b ^ qb
        return sum(abs(m[i]) for i in range(bits) if flip >> i & 1)

    costs = [cost(b) for b in full]
    assert all(a <= b + 1e-12 for a, b in zip(costs, costs[1:]))


def test_ann_recall_bounds(spark):
    """Recall discipline over a 500-vector corpus (driver sf0.001-scale
    shape, deterministic): recall@10 is non-decreasing in probes for
    both families, full probe reproduces brute force EXACTLY, and the
    defaults clear honest floors on clustered-ish data (20 clusters +
    noise — the regime ANN is for; uniform-random vectors have no
    locality for ANY index)."""
    rng = np.random.default_rng(3)
    centers = rng.standard_normal((20, 16)) * 2.0
    rows = []
    for i in range(500):
        c = centers[i % 20]
        rows.append((i, [float(x) for x in c + rng.standard_normal(16) * 0.3]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).cache()
    df.count()

    def recall(topk_fn, probes_list, k=10, n_queries=5):
        out = {}
        for p in probes_list:
            hits = 0
            for qi in range(n_queries):
                q = rows[qi * 97][1]
                exact = {
                    r["vec_id"]
                    for r in similarity.brute_force_topk(df, q, k=k).collect()
                }
                got = {
                    r["vec_id"] for r in topk_fn(df, q, p, k).collect()
                }
                hits += len(got & exact)
            out[p] = hits / (n_queries * k)
        return out

    lsh = recall(
        lambda d, q, p, k: similarity.lsh_topk(d, q, k=k, bits=5, probes=p),
        [1, 8, 32],
    )
    assert lsh[1] <= lsh[8] + 1e-9 and lsh[8] <= lsh[32] + 1e-9
    assert lsh[32] == 1.0  # probes=2^bits == full scan == brute force
    assert lsh[8] >= 0.5, lsh

    ivf = recall(
        lambda d, q, p, k: similarity.ivf_topk(
            d, q, k=k, n_centroids=16, probes=p
        ),
        [1, 4, 16],
    )
    assert ivf[1] <= ivf[4] + 1e-9 and ivf[4] <= ivf[16] + 1e-9
    assert ivf[16] == 1.0  # full probe == brute force (the driver oracle)
    assert ivf[4] >= 0.9, ivf


# ------------------------------------------------------------------ as-of
def test_asof_join_union_window(spark):
    left = spark.createDataFrame(
        [("c1", 5, "q5"), ("c1", 10, "q10"), ("c2", 1, "x")], ["k", "ts", "payload"]
    )
    right = spark.createDataFrame(
        [("c1", 3, "v3"), ("c1", 10, "v10"), ("c2", 5, "v5")], ["k", "ts", "state"]
    )
    out = asof.asof_join(left, right, ["k"], "ts", "ts")
    got = {(r["k"], r["ts"]): r["state"] for r in out.collect()}
    assert got == {("c1", 5): "v3", ("c1", 10): "v10", ("c2", 1): None}


def test_ivf_topk(spark, vectors):
    """IVF: self + near-copies recalled through probed cells."""
    df, base = vectors
    out = similarity.ivf_topk(
        df, [float(x) for x in base], k=5, n_centroids=8, probes=3
    ).collect()
    assert out and out[0]["vec_id"] == 0 and out[0]["cosine"] == 1.0
    # the 4 deliberate near-copies live in the same cell as the query
    assert {r["vec_id"] for r in out} <= set(range(5))
