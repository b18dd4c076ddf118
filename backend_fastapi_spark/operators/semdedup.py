"""Semantic deduplication (SemDeDup-style) — deterministic and
hash-checkable end to end.

The LLM-training-data operator family (exact md5 groups, MinHash/LSH,
SimHash, n-gram Jaccard, winnowing, embedding cosine) covers SYNTACTIC
duplication; SemDeDup (Abbas et al., 2023, arXiv:2303.09540 — public)
removes SEMANTIC duplicates: cluster the embedding space coarsely, then
prune within each cluster any point whose cosine similarity to a
cluster-mate exceeds a threshold, keeping one exemplar per duplicate
neighborhood. Reference analog: the FAISS store in
src/services/enhanced_internal_db_service.py holds one flat index — at
100 TB the dedup pass over it is exactly this cluster-then-prune shape.

Determinism (so the DuckDB oracle hash-matches bit-for-bit):
- Coarse clusters come from ``ivf.deterministic_medoids`` — the
  k_clusters vectors whose (md5(id), id) sorts first; no RNG anywhere.
- Assignment is the shared Arrow int64-matmul argmin
  (``ivf._assign_arrow``): components quantized to fixed-point
  (vector.FIXED_SCALE), every squared distance exact in int64, first-min
  tie-break = (distance, cluster) — identical to the SQL twin.
- Similarity is the quantized int64 dot product; the corpus embeddings
  are unit-norm, so an int64 threshold IS a cosine threshold
  (tau_i64 = tau * FIXED_SCALE**2).

Scale posture:
- One corpus scan for assignment (zero-shuffle Arrow matmul against the
  k x dim centroid matrix), one shuffle on the cluster key, then a
  per-cluster exact Gram (``kernel.gram_pairs``) inside applyInPandas.
  Pairwise work is n_c^2 per cluster, the SemDeDup contract: k_clusters
  is chosen ~ sqrt(n) (paper uses 50k clusters for LAION-440M) so each
  cluster stays executor-sized; no all-pairs join ever materializes
  row-wise.
- The summary variant reduces pairs to per-cluster counts before any
  driver interaction; nothing is collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from backend_fastapi_spark.operators.ivf import (
    _assign_arrow,
    deterministic_medoids,
)
from backend_fastapi_spark.operators.kernel import (
    FIXED_SCALE,
    gram_pairs,
    quantize,
    stack,
)


def _assigned(df: DataFrame, k_clusters: int, id_col: str,
              vec_col: str) -> DataFrame:
    med = deterministic_medoids(df, k_clusters, id_col, vec_col)
    base = df.select(F.col(id_col), quantize(F.col(vec_col)).alias("_qv"))
    return _assign_arrow(base, med, id_col)


def semantic_dedup_pairs(
    df: DataFrame,
    threshold_i64: int,
    k_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """(cluster, id_a, id_b, score_i64) for every within-cluster pair
    with quantized dot >= threshold_i64, id_a < id_b.

    The pair generation is a per-cluster exact Gram matrix
    (``kernel.gram_pairs``: float64 BLAS inside the 2^53 envelope, which
    it checks, in bounded row strips). Only rows above the threshold
    leave the executor, so the post-filter cardinality — not n_c^2 — is
    what shuffles onward.
    """
    import numpy as np
    import pandas as pd

    # ``assigned`` lets a caller that already ran the medoid selection +
    # assignment (semantic_dedup_summary) share it — otherwise the
    # TakeOrdered medoid collect and the corpus assignment scan would
    # both run twice per summary (the pq_codebooks `medoids=` reuse
    # pattern).
    if assigned is None:
        assigned = _assigned(df, k_clusters, id_col, vec_col)
    out_schema = T.StructType([
        T.StructField("cluster", T.IntegerType(), False),
        T.StructField("id_a", T.LongType(), False),
        T.StructField("id_b", T.LongType(), False),
        T.StructField("score_i64", T.LongType(), False),
    ])

    def pairs(pdf):
        ia, ib, s = gram_pairs(
            threshold_i64, pdf[id_col].to_numpy(), stack(pdf["_qv"])
        )
        return pd.DataFrame({
            "cluster": np.full(len(ia), pdf["cluster"].iloc[0], dtype="int32"),
            "id_a": ia,
            "id_b": ib,
            "score_i64": s,
        })

    return assigned.groupBy("cluster").applyInPandas(pairs, out_schema)


def semantic_dedup_summary(
    df: DataFrame,
    threshold_i64: int,
    k_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster SemDeDup outcome: (cluster, n_vectors, n_removed,
    n_kept). Removal policy (deterministic exemplar choice): a vector is
    removed iff some SMALLER-id cluster-mate sits within the threshold —
    i.e. it appears as id_b in semantic_dedup_pairs. The min-id member
    of every duplicate neighborhood survives, so kept >= 1 per occupied
    neighborhood and n_kept = n_vectors - n_removed."""
    assigned = _assigned(df, k_clusters, id_col, vec_col)
    pairs = semantic_dedup_pairs(
        df, threshold_i64, k_clusters, id_col, vec_col, assigned=assigned
    )
    removed = (
        pairs.groupBy("cluster")
        .agg(F.count_distinct("id_b").alias("n_removed"))
    )
    sizes = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    return (
        sizes.join(removed, "cluster", "left")
        .select(
            "cluster",
            "n_vectors",
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            (F.col("n_vectors")
             - F.coalesce("n_removed", F.lit(0))).alias("n_kept"),
        )
    )


def k_clusters_for(n_vectors: int, target_cluster: int | None = None) -> int:
    """The SemDeDup scale knob: k_clusters ≈ √n (the paper's sizing —
    50k clusters for LAION-440M), optionally overridden by a target
    per-cluster population. Within-cluster work is a per-cluster
    Gram matrix, so a cluster of size c costs c² ops (computed in row
    strips of at most ~64 MB) — k ~ √n keeps it bounded as the corpus
    grows. Measured at sf10 (200k vectors): the oracle-fixed k=16
    leaves ~12.5k-vector clusters (≈1.2 GB Gram per task, 5.3 s);
    k=512 ≈ √n runs the same summary in 2.9 s with ~390-vector
    clusters (SCALING.md r7). The registered queries keep k=16 so
    their DuckDB oracles stay bit-stable."""
    import math

    n = max(n_vectors, 1)
    if target_cluster:
        return max(1, math.ceil(n / target_cluster))
    return max(1, math.isqrt(n))


def semantic_dedup_union_pairs(
    df: DataFrame,
    threshold_i64: int,
    k_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup pairs ∪ deterministic RP-LSH pairs — the documented
    mitigation for SemDeDup's cluster-boundary recall loss (a planted
    twin that argmin-assigns across a medoid boundary is invisible to
    within-cluster pruning; the paper's fix is more/larger clusters,
    ours is a second, clustering-independent candidate generator).
    Both passes exact-verify with the SAME quantized int64 dot, so a
    pair found by both carries an identical score and the union is a
    plain DISTINCT — no reconciliation logic. Scale cost is additive:
    one cluster-key shuffle (SemDeDup) + one band-key equi-join
    (RP-LSH); tests/test_vector.py shows planted-dup recall rising
    from the boundary-lossy 33/40 to 40/40."""
    from backend_fastapi_spark.operators.lsh import rp_near_dup_pairs

    sem = semantic_dedup_pairs(
        df, threshold_i64, k_clusters, id_col, vec_col
    ).select("id_a", "id_b", "score_i64")
    rp = rp_near_dup_pairs(
        df, threshold_i64, id_col=id_col, vec_col=vec_col
    ).select("id_a", "id_b", "score_i64")
    return sem.unionByName(rp).distinct()


def _cluster_cte(k_clusters: int) -> str:
    """Shared DuckDB CTE chain reproducing quantize -> medoids -> argmin
    assignment, bit-identical to the Spark plan (same idiom as
    queries._ivf_det_oracle_sql — kept in one place per operator so the
    constants cannot desynchronize)."""
    return f"""
    q AS (
      SELECT vec_id, list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE)*{FIXED_SCALE}) AS BIGINT)) AS qv
      FROM embeddings),
    med AS (
      SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                  AS INTEGER) AS cluster,
             qv AS cv
      FROM q
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {k_clusters}),
    dist AS (
      SELECT a.vec_id, m.cluster,
             CAST(list_sum(list_transform(list_zip(a.qv, m.cv),
               x -> (x[1]-x[2])*(x[1]-x[2]))) AS BIGINT) AS d
      FROM q a, med m),
    assign AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
        FROM dist) WHERE rn = 1),
    pairs AS (
      SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(list_sum(list_transform(list_zip(qa.qv, qb.qv),
               x -> x[1]*x[2])) AS BIGINT) AS score_i64
      FROM assign a
      JOIN assign b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      JOIN q qa ON qa.vec_id = a.vec_id
      JOIN q qb ON qb.vec_id = b.vec_id)"""


def semdedup_pairs_oracle_sql(threshold_i64: int,
                              k_clusters: int = 16) -> str:
    return f"""
    WITH {_cluster_cte(k_clusters)}
    SELECT cluster, id_a, id_b, score_i64 FROM pairs
    WHERE score_i64 >= {threshold_i64}
    """


def semdedup_summary_oracle_sql(threshold_i64: int,
                                k_clusters: int = 16) -> str:
    return f"""
    WITH {_cluster_cte(k_clusters)},
    removed AS (
      SELECT cluster, count(DISTINCT id_b) AS n_removed
      FROM pairs WHERE score_i64 >= {threshold_i64}
      GROUP BY cluster),
    sizes AS (
      SELECT cluster, count(*) AS n_vectors FROM assign GROUP BY cluster)
    SELECT s.cluster, s.n_vectors,
           COALESCE(r.n_removed, 0) AS n_removed,
           s.n_vectors - COALESCE(r.n_removed, 0) AS n_kept
    FROM sizes s LEFT JOIN removed r ON s.cluster = r.cluster
    """
