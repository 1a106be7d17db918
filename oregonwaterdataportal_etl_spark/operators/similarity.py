"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline; random-hyperplane
LSH bucketing as the approximate scale path (bucketed candidates,
exact re-rank inside buckets).

All vector math is expression-level (zip_with/aggregate -> JVM,
codegen) — no Python in the hot path. The hyperplanes are a small
deterministic literal array (seeded), folded into the plan as
constants, i.e. the broadcast-dim pattern.

Scale notes: brute-force top-k against a single query is a map +
partial top-k per partition + tiny final reduce (TakeOrdered) — no
shuffle of the corpus. The LSH path turns all-pairs search into an
equi-join on bucket keys; recall is tuned by `bits` (fewer bits =
bigger buckets = higher recall, more verify work).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..lake.table import DATA_FILE_CODEC


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    df: DataFrame,
    query: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine against one query vector.

    orderBy+limit compiles to TakeOrdered: per-partition top-k then a
    k-row reduce on the driver — the corpus never shuffles."""
    q = F.array(*[F.lit(float(x)) for x in query])
    return (
        df.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 4).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, bits: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim))


def add_hyperplane_bucket(
    df: DataFrame, vec_col: str = "embedding", bits: int = 12, seed: int = 7, dim: int | None = None
) -> DataFrame:
    """Append a random-hyperplane LSH bucket id (int, 2^bits buckets).

    bucket bit i = sign(v . h_i). Hyperplanes are literal constants in
    the plan (tiny), so this is a pure map stage."""
    if dim is None:
        first = df.select(F.size(vec_col).alias("d")).first()
        if first is None:
            raise ValueError("empty dataframe; pass dim explicitly")
        dim = first["d"]
    planes = _hyperplanes(dim, bits, seed)
    bucket = F.lit(0).cast("long")
    for i in range(bits):
        h = F.array(*[F.lit(float(x)) for x in planes[i]])
        bit = F.when(dot(F.col(vec_col), h) > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket.bitwiseOR(bit)
    return df.withColumn("__bucket", bucket)


def lsh_probe_buckets(
    query: list[float], bits: int = 8, seed: int = 7, probes: int = 1
) -> list[int]:
    """Buckets to probe for a query: its own hyperplane bucket plus the
    `probes`-1 perturbed buckets with the smallest summed flip cost
    (multi-probe LSH with FULL perturbation sets — any subset of bits
    may flip, enumerated best-first by the heap construction of Lv et
    al.'s multi-probe scheme, so ``probes`` is meaningful past
    ``bits + 1``; the flip cost of a bit is its |margin|, the distance
    from the query to that hyperplane). Factored out so the generated
    DuckDB oracle SQL uses the EXACT same probe set as the Spark
    operator."""
    import heapq

    planes = _hyperplanes(len(query), bits, seed)
    margins = planes @ np.asarray(query, dtype=float)
    qbucket = 0
    for i in range(bits):
        if margins[i] > 0:
            qbucket |= 1 << i
    order = np.argsort(np.abs(margins))
    cost = np.abs(margins)[order]  # ascending flip costs
    buckets = [qbucket]
    if probes <= 1:
        return buckets
    # best-first subset enumeration over cost-sorted bits: each heap
    # entry is (sum cost, subset-of-sorted-ranks); children of a subset
    # whose max rank is r are "extend with r+1" and "shift r to r+1" —
    # every non-empty subset is generated exactly once, in cost order
    heap = [(float(cost[0]), (0,))]
    seen = 0
    while heap and seen < probes - 1:
        c, subset = heapq.heappop(heap)
        flip = 0
        for rank in subset:
            flip |= 1 << int(order[rank])
        buckets.append(qbucket ^ flip)
        seen += 1
        r = subset[-1]
        if r + 1 < bits:
            heapq.heappush(
                heap, (c + float(cost[r + 1]), subset + (r + 1,))
            )
            heapq.heappush(
                heap,
                (c - float(cost[r]) + float(cost[r + 1]), subset[:-1] + (r + 1,)),
            )
    return buckets


def lsh_topk(
    df: DataFrame,
    query: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    bits: int = 8,
    seed: int = 7,
    probes: int = 1,
) -> DataFrame:
    """Approximate top-k: hash the query, scan only matching buckets
    (multi-probe: flip `probes`-1 lowest disagreement bits), exact
    re-rank within candidates. At scale the bucket column is a
    partition/cluster key, so the scan prunes to ~1/2^bits of data."""
    dim = len(query)
    buckets = lsh_probe_buckets(query, bits, seed, probes)
    with_b = add_hyperplane_bucket(df, vec_col, bits=bits, seed=seed, dim=dim)
    candidates = with_b.filter(F.col("__bucket").isin(buckets))
    # exact re-rank inside candidate buckets = the brute-force operator
    return brute_force_topk(candidates, query, id_col, vec_col, k)


def knn_join_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Batch kNN: every query row gets its top-k corpus neighbors.

    mapInPandas over the corpus with the (small) query matrix
    broadcast; per-batch numpy matmul (Arrow-vectorized), then a
    global top-k per query via ranking window. This is the legitimate
    pandas-UDF case: dense matmul beats expression trees by orders of
    magnitude and stays vectorized end-to-end."""
    import pandas as pd

    spark = corpus.sparkSession
    qrows = queries.select(id_col, vec_col).collect()
    qids = [r[0] for r in qrows]
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)
    bq = spark.sparkContext.broadcast((qids, qmat, qnorm))

    def scorer(batches):
        qids_b, qmat_b, qnorm_b = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            cmat = np.array(list(pdf[vec_col]), dtype=np.float64)
            cnorm = np.linalg.norm(cmat, axis=1)
            sims = (cmat @ qmat_b.T) / np.outer(cnorm, qnorm_b)
            # per corpus-batch partial top-k for each query
            nq = len(qids_b)
            out = {
                "query_id": np.repeat(qids_b, len(pdf)),
                "corpus_id": np.tile(pdf[id_col].to_numpy(), nq),
                "cosine": np.round(sims.T.reshape(-1), 4),
            }
            res = pd.DataFrame(out)
            # keep only per-batch top-k to bound shuffle size;
            # corpus_id tie-break keeps the cut deterministic
            res = res.sort_values(
                ["query_id", "cosine", "corpus_id"],
                ascending=[True, False, True],
            )
            yield res.groupby("query_id", sort=False).head(k)

    from pyspark.sql.window import Window

    scored = corpus.mapInPandas(
        scorer, schema="query_id long, corpus_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def write_lsh_partitioned(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    bits: int = 8,
    seed: int = 7,
) -> None:
    """Materialize the hyperplane bucket as a STORAGE partition key
    (parquet partitionBy) — the at-scale layout where a probe scans
    ~probes/2^bits of the corpus as a file-level partition-pruned read,
    not a full scan + filter. Pruning is pinned by
    tests/test_storage_pruning.py via the scan's numFiles metric."""
    add_hyperplane_bucket(df, vec_col, bits=bits, seed=seed).write.partitionBy(
        "__bucket"
    ).mode("overwrite").option("compression", DATA_FILE_CODEC).parquet(path)


def lsh_topk_partitioned(
    spark,
    path: str,
    query: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    bits: int = 8,
    seed: int = 7,
    probes: int = 1,
) -> DataFrame:
    """Probe an LSH-partitioned corpus: the IN-filter on the partition
    column becomes a PartitionFilter at the parquet scan, so only the
    probed buckets' files are read."""
    buckets = lsh_probe_buckets(query, bits, seed, probes)
    candidates = spark.read.parquet(path).filter(F.col("__bucket").isin(buckets))
    return brute_force_topk(candidates, query, id_col, vec_col, k)


def write_ivf_partitioned(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 7,
    sample_size: int = 2048,
) -> None:
    """Materialize IVF cells as a storage partition key; centroids are
    persisted beside the data so probes need no retraining."""
    import json
    import os

    with_cell, centroids = ivf_assign(
        df, vec_col, n_centroids, seed, sample_size, cell_col="__cell"
    )
    with_cell.write.partitionBy("__cell").mode("overwrite").option(
        "compression", DATA_FILE_CODEC
    ).parquet(path)
    with open(os.path.join(path, "_centroids.json"), "w") as f:
        json.dump(centroids.tolist(), f)


def ivf_topk_partitioned(
    spark,
    path: str,
    query: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    probes: int = 4,
) -> DataFrame:
    """Probe an IVF-partitioned corpus: scan fraction ~= probes /
    n_centroids via parquet partition pruning on __cell."""
    import json
    import os

    with open(os.path.join(path, "_centroids.json")) as f:
        centroids = np.asarray(json.load(f), dtype=np.float64)
    qv = np.asarray(query, dtype=np.float64)
    d = ((centroids - qv[None, :]) ** 2).sum(axis=1)
    probe_cells = [int(c) for c in d.argsort()[:probes]]
    candidates = spark.read.parquet(path).filter(F.col("__cell").isin(probe_cells))
    return brute_force_topk(candidates, query, id_col, vec_col, k)


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    broadcast_threshold: int = 10_000,
    num_blocks: int | None = None,
) -> DataFrame:
    """Batch kNN join for ANY query-set size.

    - query side <= broadcast_threshold rows: the broadcast-matmul path
      (knn_join_pandas): queries collected once, corpus streamed.
    - larger query sides: fully distributed block nested-loop — the
      corpus is hashed into B blocks, queries are replicated to every
      block (shuffle = corpus x1 + queries xB), a cogrouped Arrow
      matmul scores each (corpus-block, query-set) pair with a
      per-block partial top-k, and a ranking window finishes globally.
      Neither side is ever materialized on the driver. B defaults to
      the cluster parallelism; size it so one corpus block plus the
      query matrix fits an executor's Arrow batch memory.
    """
    # bounded path probe: only "is it over the threshold?" matters, so
    # count at most threshold+1 rows instead of the full query set
    # (review finding: a full count() here was a whole extra job over
    # a possibly-huge query side)
    nq = queries.limit(broadcast_threshold + 1).count()
    if nq <= broadcast_threshold:
        return knn_join_pandas(corpus, queries, id_col, vec_col, k)
    spark = corpus.sparkSession
    n_blocks = num_blocks or spark.sparkContext.defaultParallelism
    cb = corpus.select(id_col, vec_col).withColumn(
        "__blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    )
    blocks = spark.range(n_blocks).select(F.col("id").cast("int").alias("__blk"))
    qb = queries.select(
        F.col(id_col).alias("__qid"), F.col(vec_col).alias("__qv")
    ).crossJoin(blocks)

    def score(cpdf: pd.DataFrame, qpdf: pd.DataFrame):
        out_schema = {"query_id": "int64", "corpus_id": "int64", "cosine": "float64"}
        if cpdf.empty or qpdf.empty:
            return pd.DataFrame({c: pd.Series(dtype=t) for c, t in out_schema.items()})
        cmat = np.array(list(cpdf[vec_col]), dtype=np.float64)
        qmat = np.array(list(qpdf["__qv"]), dtype=np.float64)
        sims = (cmat @ qmat.T) / np.outer(
            np.linalg.norm(cmat, axis=1), np.linalg.norm(qmat, axis=1)
        )
        res = pd.DataFrame(
            {
                "query_id": np.repeat(qpdf["__qid"].to_numpy(), len(cpdf)),
                "corpus_id": np.tile(cpdf[id_col].to_numpy(), len(qpdf)),
                "cosine": np.round(sims.T.reshape(-1), 4),
            }
        )
        res = res.sort_values(
            ["query_id", "cosine", "corpus_id"], ascending=[True, False, True]
        )
        return res.groupby("query_id", sort=False).head(k)

    scored = (
        cb.groupBy("__blk")
        .cogroup(qb.groupBy("__blk"))
        .applyInPandas(score, schema="query_id long, corpus_id long, cosine double")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


# ---------------------------------------------------------------- IVF
def _kmeans(sample: np.ndarray, n_centroids: int, seed: int, iters: int = 10) -> np.ndarray:
    """Deterministic mini k-means on a driver-side sample (numpy).
    Good-enough centroids for IVF cell assignment; at 100 TB you train
    on a 10^5-row sample exactly like this — the corpus never moves."""
    rng = np.random.default_rng(seed)
    idx = rng.choice(len(sample), size=min(n_centroids, len(sample)), replace=False)
    centroids = sample[idx].astype(np.float64)
    for _ in range(iters):
        # argmin ||x-c||^2 == argmax (2 x.c - |c|^2): O(n*k) memory,
        # no n x k x dim broadcast tensor (matters at 1e5-row samples)
        scores = 2.0 * (sample @ centroids.T) - (centroids**2).sum(axis=1)[None, :]
        assign = scores.argmax(axis=1)
        for c in range(len(centroids)):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def ivf_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 7,
    sample_size: int = 2048,
    cell_col: str = "__cell",
):
    """Train centroids on a sample, assign every row its IVF cell via
    an Arrow-batched argmin (numpy matmul per batch). Returns
    (df_with_cell, centroids). The cell column is the partition/cluster
    key at scale — queries scan only probed cells."""
    # deterministic sample: order by the vector's own hash so the
    # same corpus yields the same centroids regardless of file layout
    sample_rows = (
        df.select(vec_col).orderBy(F.xxhash64(vec_col)).limit(sample_size).collect()
    )
    if not sample_rows:
        raise ValueError("empty dataframe; cannot train IVF centroids")
    sample = np.array([r[0] for r in sample_rows], dtype=np.float64)
    centroids = _kmeans(sample, n_centroids, seed)
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(centroids)

    @F.pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        c = bc.value
        mat = np.array(list(v), dtype=np.float64)
        # argmin squared distance = argmax (2 x.c - |c|^2)
        scores = 2.0 * (mat @ c.T) - (c**2).sum(axis=1)[None, :]
        return pd.Series(scores.argmax(axis=1).astype(np.int32))

    return df.withColumn(cell_col, assign(F.col(vec_col))), centroids


def ivf_topk(
    df: DataFrame,
    query: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    probes: int = 4,
    seed: int = 7,
) -> DataFrame:
    """IVF approximate top-k: assign cells, probe the `probes` cells
    nearest the query, exact cosine re-rank inside them. Scan fraction
    ~= probes / n_centroids once the cell column is a storage
    partition key."""
    with_cell, centroids = ivf_assign(df, vec_col, n_centroids, seed)
    qv = np.asarray(query, dtype=np.float64)
    d = ((centroids - qv[None, :]) ** 2).sum(axis=1)
    probe_cells = [int(c) for c in d.argsort()[:probes]]
    candidates = with_cell.filter(F.col("__cell").isin(probe_cells))
    return brute_force_topk(candidates, query, id_col, vec_col, k)
