"""Similarity search over embedding columns (Q3/Q4 analogues; ref
query_vector_database code/pdf_graphrag.py:1056-1104).

Two paths:
  * brute-force cosine top-k — the correctness baseline; one scan, one
    top-k sort, no UDF (vectors.cosine is pure JVM higher-order exprs);
  * random-hyperplane LSH bucketing — the scale path: vectors land in
    2^n_planes buckets; queries probe only their own bucket, so the scan
    cost drops by ~bucket-count at a small recall cost. The hyperplanes are
    seed-fixed, so bucketing is deterministic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.vectors import cosine


def brute_force_topk(embeddings: DataFrame, query_vec, k: int = 5,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Top-k rows by cosine to `query_vec` (a Python list). Deterministic
    tie-break on id. Score rounded to 4 dp for cross-engine stability."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = embeddings.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), 4).alias("score"),
    )
    return (scored.orderBy(F.desc("score"), F.col(id_col)).limit(k))


def make_hyperplane_bucket_udf(dim: int, n_planes: int = 8, seed: int = 13):
    rng = np.random.RandomState(seed)
    planes = rng.randn(n_planes, dim)

    @pandas_udf("int")
    def bucket_udf(vec: pd.Series) -> pd.Series:
        def b(v) -> int:
            x = np.asarray(v, dtype=np.float64)
            signs = (planes @ x) > 0
            out = 0
            for i, s in enumerate(signs):
                if s:
                    out |= 1 << i
            return out
        return vec.map(b)
    return bucket_udf


def make_multitable_bucket_udf(dim: int, n_planes: int = 6, seed: int = 13,
                               n_tables: int = 4):
    """One pandas UDF emitting ALL tables' bucket ids as array<int> — one
    Arrow crossing regardless of table count. Table t uses seed+t planes
    (the same scheme as lsh_cosine_near_dup_pairs)."""
    planes = [np.random.RandomState(seed + t).randn(n_planes, dim)
              for t in range(n_tables)]
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf("array<int>")
    def buckets_udf(vec: pd.Series) -> pd.Series:
        def b(v) -> list:
            x = np.asarray(v, dtype=np.float64)
            return [int((( (p @ x) > 0 ) * weights).sum()) for p in planes]
        return vec.map(b)
    return buckets_udf


def query_buckets(query_vec, n_planes: int = 6, seed: int = 13,
                  n_tables: int = 4) -> list:
    q = np.asarray(query_vec, dtype=np.float64)
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    return [int(((np.random.RandomState(seed + t).randn(n_planes, len(q))
                  @ q > 0) * weights).sum()) for t in range(n_tables)]


def lsh_ann_topk(embeddings: DataFrame, query_vec, k: int = 5,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 n_planes: int = 6, seed: int = 13,
                 n_tables: int = 4) -> DataFrame:
    """ANN top-k via MULTI-TABLE hyperplane LSH: a row is a candidate when
    it shares the query's bucket in ANY of the `n_tables` independent
    tables — at 6 planes a single table misses true neighbors that land
    one bucket over, and each extra table multiplies that miss probability
    (recall-vs-scan knob: candidates ≈ n_tables/2^n_planes of the corpus).
    Exact cosine then ranks candidates. At scale the per-table bucket ids
    are precomputed partition columns; here one array<int> UDF pass."""
    dim = len(query_vec)
    buckets_udf = make_multitable_bucket_udf(dim, n_planes, seed, n_tables)
    qbs = query_buckets(query_vec, n_planes, seed, n_tables)
    bucketed = embeddings.withColumn("_tb", buckets_udf(F.col(vec_col)))
    cond = None
    for t, qb in enumerate(qbs):
        c = F.element_at(F.col("_tb"), t + 1) == qb
        cond = c if cond is None else (cond | c)
    return brute_force_topk(
        bucketed.filter(cond), query_vec, k, id_col, vec_col)


def lsh_cosine_near_dup_pairs(embeddings: DataFrame,
                              threshold: float = 0.95,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              n_planes: int = 4, n_tables: int = 4,
                              collapse_exact: bool = True) -> DataFrame:
    """Pairwise embedding near-dup via multi-table hyperplane LSH — the
    scale path next to the brute-force `cosine_pairs` baseline: candidate
    pairs only form inside a (table, bucket) block (high-cosine vectors
    agree on all planes of some table w.h.p.), then exact cosine verifies.
    The self-join shuffles on the uniform (table, bucket) key — no O(n²)
    cross product, no skew. Bit-identical vectors (re-crawled pages embed
    identically) collapse to a min-id representative first — they share
    EVERY table's bucket, so D copies would otherwise form D² candidates;
    (rep, dup) pairs emit at score 1.0, linear in group size."""
    # null-vector rows participate in no pairs (they would form one giant
    # NULL group in the collapse / a degenerate bucket in the base path)
    embeddings = embeddings.filter(F.col(vec_col).isNotNull())
    if collapse_exact:
        from .dedup import collapse_to_reps
        # group key = the vector itself (exact, collision-free)
        reps, dups = collapse_to_reps(
            embeddings.select(id_col, vec_col), id_col, vec_col)
        near = lsh_cosine_near_dup_pairs(
            reps, threshold, id_col, vec_col,
            n_planes, n_tables, collapse_exact=False)
        return near.unionByName(dups.withColumn("score", F.lit(1.0)))
    first = embeddings.select(vec_col).first()
    if first is None:
        # empty-input schema must match the non-empty path — derive the
        # pair-id type from the actual id column (string ids stay string)
        from pyspark.sql.types import DoubleType, StructField, StructType
        id_type = embeddings.schema[id_col].dataType
        return embeddings.sparkSession.createDataFrame(
            [], StructType([StructField("a", id_type),
                            StructField("b", id_type),
                            StructField("score", DoubleType())]))
    dim = len(first[0])
    # ONE array<int> UDF pass emits every table's bucket (same seed family
    # 13+t as make_hyperplane_bucket_udf) — each vector crosses the Arrow
    # boundary once, not n_tables times
    buckets_udf = make_multitable_bucket_udf(dim, n_planes, seed=13,
                                             n_tables=n_tables)
    banded = (embeddings
              .withColumn("_tb", buckets_udf(F.col(vec_col)))
              .select(
                  F.col(id_col), F.col(vec_col),
                  F.explode(F.array(*[
                      F.struct(F.lit(t).alias("t"),
                               F.element_at(F.col("_tb"), t + 1).alias("h"))
                      for t in range(n_tables)])).alias("tb"))
              .select(id_col, vec_col, F.col("tb.t").alias("t"),
                      F.col("tb.h").alias("h")))
    left = banded.select("t", "h", F.col(id_col).alias("a"),
                         F.col(vec_col).alias("va"))
    right = banded.select("t", "h", F.col(id_col).alias("b"),
                          F.col(vec_col).alias("vb"))
    return (
        left.join(right, ["t", "h"])
        .filter(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
        .withColumn("score", F.round(cosine(F.col("va"), F.col("vb")), 4))
        .filter(F.col("score") >= threshold)
        .select("a", "b", "score")
    )


def ivf_assign(embeddings: DataFrame, centroids: list,
               vec_col: str = "embedding") -> DataFrame:
    """Adds `cell`: index of the nearest centroid by cosine (IVF coarse
    quantization). `centroids` is a small python list of vectors —
    broadcast as literal arrays; assignment is a JVM-side argmax over
    per-centroid cosine expressions (no UDF, no shuffle)."""
    scores = [cosine(F.col(vec_col), F.array(*[F.lit(float(x)) for x in c]))
              for c in centroids]
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    cell = F.lit(None).cast("int")
    # first centroid achieving the max wins (deterministic tie-break)
    for i in reversed(range(len(scores))):
        cell = F.when(scores[i] == best, F.lit(i)).otherwise(cell)
    return embeddings.withColumn("cell", cell)


def train_ivf_centroids(embeddings: DataFrame, n_centroids: int = 16,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        sample_size: int = 2048,
                        n_iterations: int = 15) -> list:
    """Deterministic spherical k-means on a bounded HASH-SAMPLED set.

    The training rows are the first `sample_size` by xxhash64(id) — a
    deterministic uniform sample of the WHOLE corpus, not an id prefix
    (round-3 fix: crawl ids correlate with site/topic, so first-N-by-id
    trained centroids on one slice of the distribution only; hash order
    is distribution-blind). Init = evenly-spaced sample points, then Lloyd
    iterations with cosine assignment and re-normalized mean centroids.
    Pure numpy on ≤sample_size rows — deterministic (no RNG),
    executor-free. At scale this is exactly the production shape (TABLESAMPLE
    via hash is the same idea) and the final assignment is persisted as a
    `cell` partition column."""
    rows = (embeddings.orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
            .select(vec_col).limit(sample_size).collect())
    if not rows:
        return []
    x = np.asarray([r[0] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    xn = x / norms
    k = min(n_centroids, len(xn))
    # evenly-spaced deterministic init across the sample
    cents = xn[np.linspace(0, len(xn) - 1, k).astype(int)].copy()
    for _ in range(n_iterations):
        assign = np.argmax(xn @ cents.T, axis=1)
        newc = cents.copy()
        for c in range(k):
            members = xn[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    newc[c] = m / n
        if np.allclose(newc, cents, atol=1e-9):
            break
        cents = newc
    return [c.tolist() for c in cents]


def ivf_ann_topk(embeddings: DataFrame, query_vec, k: int = 5,
                 n_centroids: int = 16, n_probe: int = 4,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into `n_centroids`
    inverted lists (seeded spherical k-means centroids —
    train_ivf_centroids), probe only the `n_probe` cells nearest the
    query. At scale the assignment is computed once and persisted as a
    `cell` partition column — queries then prune to n_probe/n_centroids of
    the data; here it is computed inline."""
    cents = train_ivf_centroids(embeddings, n_centroids, id_col, vec_col)
    if not cents:
        # empty corpus → empty top-k with the brute-force output schema
        # (ivf_assign would hit scores[0] on an empty centroid list)
        from pyspark.sql.types import DoubleType, StructField, StructType
        id_type = embeddings.schema[id_col].dataType
        return embeddings.sparkSession.createDataFrame(
            [], StructType([StructField(id_col, id_type),
                            StructField("score", DoubleType())]))
    q = np.asarray(query_vec, dtype=np.float64)

    def cos(a):
        a = np.asarray(a, dtype=np.float64)
        na, nq = np.linalg.norm(a), np.linalg.norm(q)
        return float(a @ q / (na * nq)) if na and nq else 0.0

    probe = sorted(range(len(cents)),
                   key=lambda i: (-cos(cents[i]), i))[:n_probe]
    assigned = ivf_assign(embeddings, cents, vec_col)
    return brute_force_topk(
        assigned.filter(F.col("cell").isin(probe)), query_vec, k,
        id_col, vec_col)


def write_ivf_index(embeddings: DataFrame, out_dir: str,
                    n_centroids: int = 16,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    sample_size: int = 2048) -> list:
    """Materialize the IVF index — the at-scale layout the inline
    `ivf_ann_topk` only simulates (round 3): the corpus is written
    PARTITIONED BY `cell` (nearest-centroid id) plus one tiny centroids
    table. A query then probes n_probe cells and the parquet scan prunes
    to n_probe/n_centroids of the files — verified as PartitionFilters in
    the physical plan (tests/test_dedup_similarity.py). Assignment is the
    JVM argmax of ivf_assign (no UDF); centroids come from the
    hash-sampled deterministic k-means. Returns the centroid list."""
    cents = train_ivf_centroids(embeddings, n_centroids, id_col, vec_col,
                                sample_size)
    if not cents:
        # ivf_assign on an empty centroid list would index scores[0]
        raise ValueError("write_ivf_index: empty corpus — nothing to index")
    (ivf_assign(embeddings, cents, vec_col)
     .write.mode("overwrite").partitionBy("cell")
     .parquet(f"{out_dir}/vectors"))
    spark = embeddings.sparkSession
    cent_rows = [(i, [float(x) for x in c]) for i, c in enumerate(cents)]
    (spark.createDataFrame(cent_rows, "cell int, centroid array<double>")
     .coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/centroids"))
    return cents


def query_ivf_index(spark, out_dir: str, query_vec, k: int = 5,
                    n_probe: int = 4, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Top-k over a materialized IVF index: rank the stored centroids by
    cosine to the query (driver-side — the centroids table is tiny by
    construction), then scan ONLY the n_probe nearest cell partitions.
    The `cell IN (...)` predicate is a partition filter, so the scan
    reads n_probe/n_centroids of the data — the pruning the 100 TB
    design depends on."""
    cents = {r.cell: r.centroid
             for r in spark.read.parquet(f"{out_dir}/centroids").collect()}
    q = np.asarray(query_vec, dtype=np.float64)
    nq = np.linalg.norm(q)

    def cos(c):
        c = np.asarray(c, dtype=np.float64)
        nc = np.linalg.norm(c)
        return float(c @ q / (nc * nq)) if nc and nq else 0.0

    probe = sorted(cents, key=lambda i: (-cos(cents[i]), i))[:n_probe]
    vecs = (spark.read.parquet(f"{out_dir}/vectors")
            .filter(F.col("cell").isin(probe)))
    return brute_force_topk(vecs, query_vec, k, id_col, vec_col)


def cosine_pairs(embeddings: DataFrame, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 threshold: float = 0.95) -> DataFrame:
    """Brute-force near-duplicate pairs by cosine (bound the input; the LSH
    bucket join is the scale path)."""
    a = embeddings.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = embeddings.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b).filter(F.col("a") < F.col("b"))
        .withColumn("score", F.round(cosine(F.col("va"), F.col("vb")), 4))
        .filter(F.col("score") >= threshold)
        .select("a", "b", "score")
    )


def knn_join(embeddings: DataFrame, queries: DataFrame, k: int = 3,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """For each query row: its k nearest corpus neighbors (excluding itself).
    Window top-k over the scored join — the per-query sort is partitioned,
    no global orderBy. Brute force: it crossJoins queries × corpus, so
    bound the input (a handful of queries over a bounded corpus); the IVF
    index (`ivf_ann_topk`, `query_ivf_index`) and the hyperplane-LSH
    bucket join (`lsh_ann_topk`) are the scale paths."""
    from pyspark.sql import Window
    c = embeddings.select(F.col(id_col).alias("nbr"), F.col(vec_col).alias("vc"))
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("vq"))
    scored = (
        q.crossJoin(c).filter(F.col("qid") != F.col("nbr"))
        .withColumn("score", F.round(cosine(F.col("vq"), F.col("vc")), 4))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.col("nbr"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "nbr", "rank", "score"))
