"""Product quantization (PQ) with asymmetric-distance (ADC) search — the
memory-compression half of an IVFPQ-style vector index.

At 100 TB the corpus embeddings dominate memory: 64 dims × 8-byte doubles
= 512 B/vector. PQ (Jégou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011; the FAISS default) splits each vector into
``M_SUB`` subvectors and stores only the id of the nearest codebook entry
per subspace — here 8 subspaces × 16 codes = 8 half-byte codes, a 4-byte
sketch per vector (128× compression). Search is ADC: the query computes a
small distance table per subspace (M_SUB × K_CODES int64 entries), and
each corpus vector's approximate distance is a table-lookup sum — no
full-width arithmetic against the corpus at all.

Spark-first shape:
- **train/encode**: codebooks come from the same md5-ranked deterministic
  medoids as ivf.py's coarse quantizer (bounded k-row collect), sliced
  per subspace; encoding is a per-Arrow-batch int64 matmul per subspace
  (one corpus scan, zero shuffle).
- **search**: distance tables are built driver-side from the (guarded,
  |Q|-row) collected query vectors — same discipline as
  ``kernel.collect_queries`` — and closed over by a
  mapInPandas scorer: per batch, adc_d2 = Σ_s dt[s][code_s], a pure
  numpy gather. The ONLY shuffle in the whole search is the final
  per-query top-k window over the ADC-pruned candidate set.
- **re-rank**: IVFPQ practice — the ADC top-``rerank`` candidates join
  back to the raw vectors (broadcast, candidate-side is |Q|·rerank rows)
  for exact int64 dot re-ranking to top-``k``.

Everything is md5-derived + int64 fixed-point (components ≤ 1e6; an
8-dim subspace squared-distance ≤ 2.6e13, an ADC sum ≤ 2.6e14, both
exact in int64 AND double < 2^53), so DuckDB reproduces codebooks,
codes, ADC sums, and both rankings bit-for-bit — a hash-checkable PQ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from backend_fastapi_spark.operators.ivf import deterministic_medoids
from backend_fastapi_spark.operators.kernel import (
    FIXED_SCALE,
    merge_topk,
    quantize,
    sq_l2,
)
from backend_fastapi_spark.operators.vector import int_dot

M_SUB = 8  # subspaces
SUB_DIM = 8  # dims per subspace (64-dim vectors)
K_CODES = 16  # codebook entries per subspace

# Shared int64 DuckDB arithmetic snippets — single definition so the two
# PQ oracles (and any future one) can never drift from each other.
D2_I64_SQL = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), "
    "x -> (x[1]-x[2])*(x[1]-x[2]))) AS BIGINT)"
)
DOT_I64_SQL = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), "
    "x -> x[1]*x[2])) AS BIGINT)"
)


def pq_codebooks(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    medoids=None,
):
    """(M_SUB, K_CODES, SUB_DIM) int64 codebook tensor: the K_CODES
    md5-ranked medoid vectors (same deterministic selection as
    ivf.deterministic_medoids), sliced per subspace. Pass ``medoids``
    (≥ K_CODES already-collected (cluster, qv) pairs) to reuse a collect
    an IVF build already paid for — the md5 ranking is prefix-stable, so
    the first K_CODES entries of a longer medoid list ARE this
    codebook's vectors."""
    import numpy as np

    med = (
        medoids[:K_CODES]
        if medoids is not None
        else deterministic_medoids(df, K_CODES, id_col, vec_col)
    )
    if len(med) < K_CODES:
        raise ValueError(f"need {K_CODES} medoids, got {len(med)}")
    C = np.array([cv for _, cv in med], dtype=np.int64)  # (K, dim)
    return C.reshape(K_CODES, M_SUB, SUB_DIM).transpose(1, 0, 2).copy()


def pq_codebooks_trained(
    df: DataFrame,
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 20,
):
    """(M_SUB, K_CODES, SUB_DIM) int64 codebook tensor from per-subspace
    MLlib KMeans — Jégou's actual PQ training recipe (one k-means per
    subspace over that subspace's corpus slices), the production-recall
    twin of ``pq_codebooks``'s md5-medoid form. Training runs on the
    QUANTIZED fixed-point components and the float centroids are rounded
    back to int64, so the identical encode/ADC/re-rank int64 plan
    consumes either codebook unchanged. Seeded and single-threaded-
    deterministic, but MLlib centroids come out of JVM float math — like
    ann_lsh_top10 this variant is rows-only + recall-tested, never
    hash-oracled. Scale posture: M_SUB sequential distributed KMeans
    fits over a cached narrow (dim-wide) projection of one corpus scan;
    at 100 TB the standard refinement is fitting on a sample, which this
    accepts via a pre-sampled ``df``."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    base = df.select(quantize(F.col(vec_col)).alias("_qv"))
    sub = base.select(
        *[
            array_to_vector(
                F.transform(
                    F.slice("_qv", s * SUB_DIM + 1, SUB_DIM),
                    lambda x: x.cast("double"),
                )
            ).alias(f"_s{s}")
            for s in range(M_SUB)
        ]
    ).cache()
    try:
        cbs = []
        for s in range(M_SUB):
            model = KMeans(
                k=K_CODES, seed=seed, maxIter=max_iter, featuresCol=f"_s{s}"
            ).fit(sub)
            C = np.array([np.asarray(c) for c in model.clusterCenters()])
            if C.shape[0] < K_CODES:
                raise ValueError(
                    f"subspace {s}: KMeans found {C.shape[0]} < {K_CODES} "
                    "centers — corpus has too few distinct subvectors"
                )
            cbs.append(np.round(C).astype(np.int64))
    finally:
        sub.unpersist()
    return np.stack(cbs)


def _distance_tables(Qs, cb):
    """dt[i, s, c] = the exact squared L2 of query i's subvector s to
    codeword c of codebook s (``kernel.sq_l2``), as int64 so the ADC sums
    over subspaces stay exact."""
    import numpy as np

    return np.stack(
        [sq_l2(Qs[:, s], cb[s]) for s in range(M_SUB)], axis=1
    ).astype(np.int64)


def pq_encode(
    df: DataFrame,
    cb,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_col, code0..code{M_SUB-1}) — the 4-byte-per-vector compressed
    index. Per Arrow batch and subspace s: the exact d² over the K_CODES
    codebook rows (``kernel.sq_l2``), argmin (first-min = the (d², code)
    tie-break the SQL oracle's row_number uses). One scan, zero shuffle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [df.schema[id_col]]
        + [T.StructField(f"code{s}", T.IntegerType(), False) for s in range(M_SUB)]
    )
    base = df.select(F.col(id_col), quantize(F.col(vec_col)).alias("_qv"))

    def encode(batches):
        for pdf in batches:
            X = np.stack(pdf["_qv"].to_numpy()).astype(np.int64)
            Xs = X.reshape(len(X), M_SUB, SUB_DIM)
            out = {id_col: pdf[id_col]}
            for s in range(M_SUB):
                d2 = sq_l2(Xs[:, s], cb[s])
                out[f"code{s}"] = d2.argmin(axis=1).astype("int32")
            yield pd.DataFrame(out)

    return base.mapInPandas(encode, schema=out_schema)


def pq_adc_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
    cb=None,
) -> DataFrame:
    """ADC search + exact re-rank: (q_id, id_col, adc_d2, score_i64),
    top-``k`` per query by exact int64 dot among the ADC top-``rerank``
    candidates (self excluded). Ties: ADC by (adc_d2, id), final by
    (score DESC, id) — total orders, so the DuckDB oracle hash-matches.

    ``queries`` carries (q_id, q_embedding). The query side is collected
    (guarded at ``max_queries`` rows — knn_exact's discipline) to build
    the per-query distance tables the Arrow scorer closes over.

    ``cb`` overrides the codebook tensor (e.g. ``pq_codebooks_trained``
    output); default is the deterministic md5-medoid form."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if cb is None:
        cb = pq_codebooks(df, id_col, vec_col)

    q_rows = (
        queries.select(
            F.col("q_id"), quantize(F.col("q_embedding")).alias("_pq")
        )
        .limit(max_queries + 1)
        .collect()
    )
    if len(q_rows) > max_queries:
        raise ValueError(
            f"pq_adc_topk collects the query side; got > {max_queries} rows"
        )
    q_ids = np.array([r["q_id"] for r in q_rows])
    Qv = np.array([r["_pq"] for r in q_rows], dtype=np.int64)  # (nq, dim)
    dt = _distance_tables(Qv.reshape(len(Qv), M_SUB, SUB_DIM), cb)

    enc = pq_encode(df, cb, id_col, vec_col)
    id_field = enc.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField("q_id", T.LongType(), False),
            T.StructField(id_field.name, id_field.dataType, False),
            T.StructField("adc_d2", T.LongType(), False),
        ]
    )

    def score(batches):
        for pdf in batches:
            codes = np.stack(
                [pdf[f"code{s}"].to_numpy() for s in range(M_SUB)], axis=1
            )  # (n, M_SUB)
            ids = pdf[id_col].to_numpy()
            n = len(ids)
            # one gather for ALL queries at once — dt[:, s, codes[:, s]]
            # sums to (nq, n) — and ONE frame per Arrow batch: a
            # per-query yield would pay nq DataFrame constructions +
            # Arrow serializations per batch, dominating the ADC math
            # at large |Q|.
            adc = dt[:, np.arange(M_SUB)[None, :], codes].sum(axis=2)
            yield pd.DataFrame(
                {
                    "q_id": np.repeat(q_ids, n),
                    id_col: np.tile(ids, len(q_ids)),
                    "adc_d2": adc.reshape(-1).astype(np.int64),
                }
            )

    scored = enc.mapInPandas(score, schema=out_schema).filter(
        F.col(id_col) != F.col("q_id")
    )
    cands = merge_topk(
        scored, "q_id", id_col, rerank, score="adc_d2", desc=False
    )

    # exact re-rank: candidates are |Q|·rerank rows — broadcast them into
    # the corpus scan, compute the full-width int64 dot only there.
    corpus_q = df.select(
        F.col(id_col), quantize(F.col(vec_col)).alias("_cv")
    )
    q_lit = queries.select(
        F.col("q_id"), quantize(F.col("q_embedding")).alias("_pq")
    )
    reranked = (
        corpus_q.join(F.broadcast(cands), id_col)
        .join(F.broadcast(q_lit), "q_id")
        .select(
            "q_id",
            id_col,
            "adc_d2",
            int_dot(F.col("_cv"), F.col("_pq")).alias("score_i64"),
        )
    )
    return merge_topk(reranked, "q_id", id_col, k).select(
        "q_id", id_col, "adc_d2", "score_i64"
    )


def ivfpq_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rerank: int = 50,
    k_clusters: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
) -> DataFrame:
    """IVF + PQ + ADC + exact re-rank — the composed production-ANN shape
    (FAISS ``IVFx,PQy``): the coarse quantizer prunes each query's
    candidate set to ``nprobe``/``k_clusters`` of the corpus, ADC scores
    only those candidates from their 4-byte codes, and the ADC
    top-``rerank`` re-rank by exact int64 dot.

    Returns (q_id, id_col, cluster, adc_d2, score_i64) top-``k`` per
    query by exact dot (self excluded; ties (score DESC, id)).

    Fusion: coarse assignment, PQ encoding, the per-query probe mask,
    and the ADC table gather all run inside ONE mapInPandas over ONE
    corpus scan — the coarse centroids, PQ codebooks, probe lists, and
    distance tables are all small driver-side arrays (md5-medoid
    selection + guarded |Q|-row query collect) closed over by the
    scorer. Nothing shuffles until the ADC top-``rerank`` window, which
    WindowGroupLimit bounds to ~rerank rows per query per partition.
    Raw vectors are read exactly twice (index scan + broadcast-pruned
    re-rank scan); at 100 TB the second scan is itself prunable when the
    corpus is stored partitioned by cluster (write_ivf_index's layout).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    # ONE bounded corpus collect serves both quantizers: md5 ranking is
    # prefix-stable, so coarse centroids = first k_clusters medoids and
    # PQ codebooks = first K_CODES of the same list.
    med_all = deterministic_medoids(df, max(k_clusters, K_CODES), id_col, vec_col)
    C = np.array([cv for _, cv in med_all[:k_clusters]], dtype=np.int64)
    cb = pq_codebooks(df, id_col, vec_col, medoids=med_all)

    q_rows = (
        queries.select(
            F.col("q_id"), quantize(F.col("q_embedding")).alias("_pq")
        )
        .limit(max_queries + 1)
        .collect()
    )
    if len(q_rows) > max_queries:
        raise ValueError(
            f"ivfpq_topk collects the query side; got > {max_queries} rows"
        )
    q_ids = np.array([r["q_id"] for r in q_rows])
    Qv = np.array([r["_pq"] for r in q_rows], dtype=np.int64)
    # probe lists: nprobe nearest coarse centroids per query, (d², cluster)
    # tie-break = np.argsort on the compound key via stable sort on cluster
    # index after primary d² (lexsort: last key is primary).
    qd2 = sq_l2(Qv, C)
    probes = np.argsort(qd2, axis=1, kind="stable")[:, :nprobe]  # ties → lower cluster
    dt = _distance_tables(Qv.reshape(len(Qv), M_SUB, SUB_DIM), cb)

    base = df.select(F.col(id_col), quantize(F.col(vec_col)).alias("_qv"))
    id_field = base.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField("q_id", T.LongType(), False),
            T.StructField(id_field.name, id_field.dataType, False),
            T.StructField("cluster", T.IntegerType(), False),
            T.StructField("adc_d2", T.LongType(), False),
        ]
    )

    def score(batches):
        for pdf in batches:
            X = np.stack(pdf["_qv"].to_numpy()).astype(np.int64)
            ids = pdf[id_col].to_numpy()
            # coarse assign (first-min argmin = (d², cluster) tie-break)
            clusters = sq_l2(X, C).argmin(axis=1)
            # PQ encode
            Xs = X.reshape(len(X), M_SUB, SUB_DIM)
            codes = np.empty((len(X), M_SUB), dtype=np.int64)
            for s in range(M_SUB):
                codes[:, s] = sq_l2(Xs[:, s], cb[s]).argmin(axis=1)
            for qi in range(len(q_ids)):
                mask = np.isin(clusters, probes[qi]) & (ids != q_ids[qi])
                if not mask.any():
                    continue
                adc = dt[qi][np.arange(M_SUB)[None, :], codes[mask]].sum(axis=1)
                yield pd.DataFrame(
                    {
                        "q_id": np.full(mask.sum(), q_ids[qi]),
                        id_col: ids[mask],
                        "cluster": clusters[mask].astype("int32"),
                        "adc_d2": adc.astype(np.int64),
                    }
                )

    scored = base.mapInPandas(score, schema=out_schema)
    cands = merge_topk(
        scored, "q_id", id_col, rerank, score="adc_d2", desc=False
    )
    corpus_q = df.select(F.col(id_col), quantize(F.col(vec_col)).alias("_cv"))
    q_lit = queries.select(
        F.col("q_id"), quantize(F.col("q_embedding")).alias("_pq")
    )
    reranked = (
        corpus_q.join(F.broadcast(cands), id_col)
        .join(F.broadcast(q_lit), "q_id")
        .select(
            "q_id",
            id_col,
            "cluster",
            "adc_d2",
            int_dot(F.col("_cv"), F.col("_pq")).alias("score_i64"),
        )
    )
    return merge_topk(reranked, "q_id", id_col, k).select(
        "q_id", id_col, "cluster", "adc_d2", "score_i64"
    )


def ivfpq_oracle_sql(
    n_queries: int = 3,
    k: int = 10,
    rerank: int = 50,
    k_clusters: int = 16,
    nprobe: int = 4,
) -> str:
    """DuckDB twin of ivfpq_topk: md5-medoid coarse quantizer + PQ
    encode + probe-masked ADC + exact re-rank, all int64. The coarse
    quantizer (``med``, k_clusters entries) and the PQ codebook source
    (``pqmed``, K_CODES entries) are SEPARATE prefixes of the same md5
    ranking — exactly like the implementation, so the oracle stays
    faithful for any k_clusters, not just k_clusters == K_CODES."""
    d2, dot = D2_I64_SQL, DOT_I64_SQL
    sub_a = f"list_slice(a.qv, cb.s*{SUB_DIM}+1, cb.s*{SUB_DIM}+{SUB_DIM})"
    sub_p = f"list_slice(p.qv, cb.s*{SUB_DIM}+1, cb.s*{SUB_DIM}+{SUB_DIM})"
    return f"""
    WITH q AS (
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
    pqmed AS (
      SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                  AS INTEGER) AS cluster,
             qv AS cv
      FROM q
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {K_CODES}),
    assign AS (
      SELECT vec_id, cluster FROM (
        SELECT a.vec_id, m.cluster,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {d2.format(a='a.qv', b='m.cv')},
                                           m.cluster) AS rn
        FROM q a, med m) WHERE rn = 1),
    probe AS (
      SELECT q_id, cluster FROM (
        SELECT p.vec_id AS q_id, m.cluster,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {d2.format(a='p.qv', b='m.cv')},
                                           m.cluster) AS rn
        FROM q p, med m WHERE p.vec_id < {n_queries}) WHERE rn <= {nprobe}),
    sub AS (SELECT unnest(range({M_SUB})) AS s),
    cb AS (
      SELECT sub.s, pqmed.cluster AS c,
             list_slice(pqmed.cv, sub.s*{SUB_DIM}+1, sub.s*{SUB_DIM}+{SUB_DIM}) AS sv
      FROM pqmed, sub),
    enc AS (
      SELECT vec_id, s, c AS code FROM (
        SELECT a.vec_id, cb.s, cb.c,
               row_number() OVER (PARTITION BY a.vec_id, cb.s
                                  ORDER BY {d2.format(a=sub_a, b='cb.sv')},
                                           cb.c) AS rn
        FROM q a, cb) WHERE rn = 1),
    dt AS (
      SELECT p.vec_id AS q_id, cb.s, cb.c,
             {d2.format(a=sub_p, b='cb.sv')} AS d
      FROM q p, cb WHERE p.vec_id < {n_queries}),
    adc AS (
      SELECT dt.q_id, e.vec_id, asg.cluster,
             CAST(SUM(dt.d) AS BIGINT) AS adc_d2
      FROM enc e
      JOIN assign asg ON asg.vec_id = e.vec_id
      JOIN probe pr ON pr.cluster = asg.cluster
      JOIN dt ON dt.q_id = pr.q_id AND dt.s = e.s AND dt.c = e.code
      WHERE e.vec_id <> dt.q_id
      GROUP BY dt.q_id, e.vec_id, asg.cluster),
    cand AS (
      SELECT q_id, vec_id, cluster, adc_d2 FROM (
        SELECT q_id, vec_id, cluster, adc_d2,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY adc_d2 ASC, vec_id ASC) AS rn
        FROM adc) WHERE rn <= {rerank}),
    rr AS (
      SELECT c.q_id, c.vec_id, c.cluster, c.adc_d2,
             {dot.format(a='v.qv', b='p.qv')} AS score_i64
      FROM cand c
      JOIN q v ON v.vec_id = c.vec_id
      JOIN q p ON p.vec_id = c.q_id)
    SELECT q_id, vec_id, cluster, adc_d2, score_i64 FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY score_i64 DESC, vec_id ASC) AS rn
      FROM rr) WHERE rn <= {k}
    ORDER BY q_id, score_i64 DESC, vec_id
    """


def pq_oracle_sql(n_queries: int = 3, k: int = 10, rerank: int = 50) -> str:
    """DuckDB twin of pq_adc_topk over the ``embeddings`` view — codebook
    selection, per-subspace encoding, ADC sums, and both rankings in the
    same int64 arithmetic. Generated from the module constants (and
    FIXED_SCALE) so oracle and operator can never desynchronize."""
    d2, dot = D2_I64_SQL, DOT_I64_SQL
    return f"""
    WITH q AS (
      SELECT vec_id, list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE)*{FIXED_SCALE}) AS BIGINT)) AS qv
      FROM embeddings),
    sub AS (SELECT unnest(range({M_SUB})) AS s),
    med AS (
      SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                  AS INTEGER) AS c,
             qv AS cv
      FROM q
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {K_CODES}),
    cb AS (
      SELECT sub.s, med.c,
             list_slice(med.cv, sub.s*{SUB_DIM}+1, sub.s*{SUB_DIM}+{SUB_DIM}) AS sv
      FROM med, sub),
    enc AS (
      SELECT vec_id, s, c AS code FROM (
        SELECT a.vec_id, cb.s, cb.c,
               row_number() OVER (
                 PARTITION BY a.vec_id, cb.s
                 ORDER BY {d2.format(
                   a=f'list_slice(a.qv, cb.s*{SUB_DIM}+1, cb.s*{SUB_DIM}+{SUB_DIM})',
                   b='cb.sv')}, cb.c) AS rn
        FROM q a, cb) WHERE rn = 1),
    dt AS (
      SELECT p.vec_id AS q_id, cb.s, cb.c,
             {d2.format(
               a=f'list_slice(p.qv, cb.s*{SUB_DIM}+1, cb.s*{SUB_DIM}+{SUB_DIM})',
               b='cb.sv')} AS d
      FROM q p, cb WHERE p.vec_id < {n_queries}),
    adc AS (
      SELECT dt.q_id, e.vec_id, CAST(SUM(dt.d) AS BIGINT) AS adc_d2
      FROM enc e JOIN dt ON dt.s = e.s AND dt.c = e.code
      WHERE e.vec_id <> dt.q_id
      GROUP BY dt.q_id, e.vec_id),
    cand AS (
      SELECT q_id, vec_id, adc_d2 FROM (
        SELECT q_id, vec_id, adc_d2,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY adc_d2 ASC, vec_id ASC) AS rn
        FROM adc) WHERE rn <= {rerank}),
    rr AS (
      SELECT c.q_id, c.vec_id, c.adc_d2,
             {dot.format(a='v.qv', b='p.qv')} AS score_i64
      FROM cand c
      JOIN q v ON v.vec_id = c.vec_id
      JOIN q p ON p.vec_id = c.q_id)
    SELECT q_id, vec_id, adc_d2, score_i64 FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY score_i64 DESC, vec_id ASC) AS rn
      FROM rr) WHERE rn <= {k}
    ORDER BY q_id, score_i64 DESC, vec_id
    """
