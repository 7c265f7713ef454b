"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the correctness baseline. Queries are a
  dimension-sized table -> broadcast crossJoin; the dot product is
  F.zip_with + F.aggregate (JVM-side, no UDF); top-k via window rank.
- LSH-bucketed (random hyperplane) variant: the scale path. Each vector
  gets a b-bit signature from fixed seeded hyperplanes; candidates only
  meet within a bucket, so the join is O(bucket sizes), not O(n*q).

At 100 TB the brute-force path is only for re-ranking candidates; the
signature computation is a narrow map and the bucket join shuffles on the
signature key.
- IVF variant: a coarse quantizer (driver-known centroid list, the shape a
  k-means output has) assigns every corpus vector to its nearest centroid
  with a shuffle-free fold over a literal centroid array; queries probe the
  n_probe nearest lists and candidates are exact-reranked. The only
  shuffle is the per-query top-k window.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _cosine_topk(
    scored: DataFrame, k: int, query_id_col: str, id_col: str, *extra_cols: str
) -> DataFrame:
    """Per query, the k rows of ``scored`` with the highest ``cos``:
    (query_id_col, id_col, *extra_cols, cos, rank). Ranks on the ROUNDED
    cosine with an id tiebreak, so a last-ulp difference between two
    engines' double cosines cannot flip ranks or the top-k boundary (the
    same invariant as bm25_topk)."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc(F.round("cos", 6)), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, *extra_cols, "cos", "rank")
    )


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """For every query vector, the k nearest corpus vectors by cosine."""
    q = F.broadcast(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("q_vec"))
    )
    scored = embeddings.crossJoin(q).select(
        query_id_col,
        id_col,
        cosine(F.col(vec_col), F.col("q_vec")).alias("cos"),
    )
    return _cosine_topk(scored, k, query_id_col, id_col)


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 7) -> list[list[float]]:
    """Fixed seeded random hyperplanes (deterministic across runs/executors)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """b-bit sign signature as a bigint."""
    bits = [
        F.when(dot(vec, F.array(*[F.lit(float(x)) for x in p])) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i, p in enumerate(planes)
    ]
    return sum(bits).cast("long")


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    multi_probe: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates share the hyperplane bucket; exact
    cosine re-ranks within the bucket. Recall < 1 by construction — the
    recall knobs are n_planes (fewer planes = bigger buckets) and
    ``multi_probe``: probe the exact bucket PLUS every 1-bit-flip
    neighbor (n_planes extra buckets per query), recovering neighbors
    that fall one hyperplane to the other side. The probe explosion is
    query-side only (queries are the broadcast-small side), and each
    corpus vector lives in exactly one bucket, so no (query, vec) pair
    can appear twice — the join stays bucket-keyed, O(sum of probed
    bucket sizes), never all-pairs."""
    planes = hyperplanes(dim, n_planes)
    e = embeddings.withColumn("bucket", lsh_signature(F.col(vec_col), planes))
    q_base = queries.select(
        query_id_col,
        F.col(vec_col).alias("q_vec"),
    ).withColumn("bucket", lsh_signature(F.col("q_vec"), planes))
    if multi_probe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
        )
        q_base = q_base.select(
            query_id_col, "q_vec", F.explode(probes).alias("bucket")
        )
    q = F.broadcast(q_base)
    scored = e.join(q, "bucket").select(
        query_id_col, id_col, cosine(F.col(vec_col), F.col("q_vec")).alias("cos")
    )
    return _cosine_topk(scored, k, query_id_col, id_col)


def ivf_centroids(
    embeddings: DataFrame, mod: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse-quantizer centroids: the embeddings whose id is
    ≡ 0 (mod `mod`), ordered by id. Stands in for a k-means codebook — in
    production the codebook is likewise a small driver-known list trained
    offline; only its contents change, not the plan shape."""
    rows = (
        embeddings.filter((F.col(id_col) % mod) == 0)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    return [(int(r[0]), [float(x) for x in r[1]]) for r in rows]


def _unit_matrix(centroids: list[tuple[int, list[float]]]) -> np.ndarray:
    mat = np.asarray([v for _, v in centroids], dtype=np.float64)
    nrms = np.linalg.norm(mat, axis=1)
    nrms[nrms == 0.0] = 1.0
    return mat / nrms[:, None]


def _nearest_centroid_arrow(vec: Column, centroids: list[tuple[int, list[float]]]) -> Column:
    """Argmax-cosine centroid id as ONE Arrow-batched gemm per batch:
    (batch×dim)·(dim×k). Centroids are L2-normalized in the driver, so
    argmax cosine == argmax dot (dividing by the row's own norm cannot
    change the argmax). Ties resolve to the lowest centroid id (id-ordered
    rows; np.argmax returns the first max). Measured ~4x faster end-to-end
    than per-row JVM transform/aggregate dots over a flat centroid literal,
    whose interpreted evaluation dominates — dense linear algebra is the
    case where an Arrow batch beats JVM expressions."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    unit_t = _unit_matrix(centroids).T  # dim×k
    cids = np.asarray([cid for cid, _ in centroids], dtype=np.int32)

    @pandas_udf(IntegerType())
    def assign(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            if len(s) == 0:
                yield pd.Series([], dtype="int32")
                continue
            sims = np.stack(s.to_numpy()) @ unit_t
            yield pd.Series(cids[np.argmax(sims, axis=1)])

    # asNondeterministic stops Catalyst from duplicating the UDF into the
    # join's pushed-down isnotnull(cid) filter (two ArrowEvalPython stages
    # for one assignment otherwise — visible in PLANS.md history).
    return assign.asNondeterministic()(vec)


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are bucketed by nearest
    centroid (narrow map); each query probes its `n_probe` nearest lists;
    exact cosine reranks the probed candidates. Scale shape: assignment is
    shuffle-free, the probe table is broadcast, and the only shuffle is the
    per-query top-k window — O(corpus/`len(centroids)` × n_probe) scored
    rows instead of O(corpus × queries)."""
    spark = embeddings.sparkSession
    cen = spark.createDataFrame(
        [(cid, v) for cid, v in centroids], "cid int, cv array<double>"
    )
    assigned = embeddings.withColumn("cid", _nearest_centroid_arrow(F.col(vec_col), centroids))

    qc = queries.select(query_id_col, F.col(vec_col).alias("q_vec")).crossJoin(
        F.broadcast(cen)
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.desc(cosine(F.col("q_vec"), F.col("cv"))), F.asc("cid")
    )
    probes = (
        qc.withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= n_probe)
        .select(query_id_col, "q_vec", "cid")
    )

    scored = assigned.join(F.broadcast(probes), "cid").select(
        query_id_col, id_col, cosine(F.col(vec_col), F.col("q_vec")).alias("cos")
    )
    return _cosine_topk(scored, k, query_id_col, id_col)


def embedding_near_dup(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.99,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH bucketing + exact
    cosine verify (the embedding analog of MinHash dedup)."""
    planes = hyperplanes(dim, n_planes)
    e = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).withColumn("bucket", lsh_signature(F.col("v"), planes))
    a = e.select(F.col("id").alias("id_a"), F.col("v").alias("va"), "bucket")
    b = e.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def group_centroids(
    df: DataFrame, group_col: str, vec_col: str = "embedding"
) -> DataFrame:
    """Element-wise mean vector per group — the centroid/prototype pass
    (IVF codebook refresh, per-class prototypes, drift monitoring).
    posexplode -> (group, dim) partial-aggregated average -> ordered
    reassembly: shuffle volume is O(groups x dim) AFTER map-side combine,
    independent of row count, so averaging 10^10 vectors moves the same
    bytes as 10^4. Emits (group, n, centroid array<double> rounded 4)."""
    pos = df.select(
        F.col(group_col), F.posexplode(vec_col).alias("idx", "v")
    )
    agg = pos.groupBy(group_col, "idx").agg(
        F.round(F.avg(F.col("v").cast("double")), 4).alias("m"),
        F.count("*").alias("n"),
    )
    return agg.groupBy(group_col).agg(
        F.max("n").alias("n"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("idx", "m"))), lambda s: s["m"]
        ).alias("centroid"),
    )


def kmeans_lloyd_step(
    embeddings: DataFrame,
    seeds: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd iteration of k-means — the IVF codebook training step.

    Assignment: broadcast the k seed centroids (k is small by
    construction — it's a codebook), score every vector against each via
    squared L2 written as the dot-product identity
    ``<v,v> - 2<v,c> + <c,c>`` — three sequential-fold dot products, the
    same primitive the brute-force ranker uses, so the arithmetic is
    reproducible across engines — and keep the (dist2, cluster)-minimal
    row per vector (per-vector window, high cardinality key, no skew).
    Update: re-averages members per cluster through
    ``group_centroids`` — shuffle O(k x dim) after map-side combine.

    Iterating = feeding the output centroids back as ``seeds``; each
    round is one broadcast-scored narrow map + one vector-keyed window
    + one combining aggregate. Returns (cluster, n, centroid)."""
    s = F.broadcast(
        seeds.select(
            F.col(id_col).alias("cluster"), F.col(vec_col).alias("cv")
        )
    )
    v = F.col(vec_col)
    dist2 = dot(v, v) - F.lit(2.0) * dot(v, F.col("cv")) + dot(
        F.col("cv"), F.col("cv")
    )
    scored = embeddings.crossJoin(s).select(
        id_col, "cluster", dist2.alias("dist2")
    )
    w = Window.partitionBy(id_col).orderBy("dist2", "cluster")
    assign = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "cluster")
    )
    members = embeddings.join(assign, id_col).select("cluster", vec_col)
    return group_centroids(members, "cluster", vec_col)


def hard_negative_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """For every query vector, the k most cosine-similar corpus vectors
    with a DIFFERENT label — hard-negative mining for contrastive /
    embedding training data (the highest-similarity wrong-label
    examples are the informative negatives).

    Same shape as ``brute_force_topk`` (queries broadcast, corpus side
    streams, per-query window top-k), with the label-mismatch predicate
    applied BEFORE ranking so same-label rows never enter the window.
    For corpora past brute-force reach, feed the candidate set from
    ``ivf_topk``/``lsh_topk`` with an over-fetched k and apply the same
    label filter + re-rank."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("q_vec"),
            F.col(label_col).alias("q_label"),
        )
    )
    scored = (
        embeddings.crossJoin(q)
        .filter(F.col(label_col) != F.col("q_label"))
        .select(
            query_id_col,
            id_col,
            F.col(label_col),
            cosine(F.col(vec_col), F.col("q_vec")).alias("cos"),
        )
    )
    return _cosine_topk(scored, k, query_id_col, id_col, label_col)
