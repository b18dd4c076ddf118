"""Approximate nearest neighbors via MLlib LSH — the 100 TB similarity path.

Exact kNN (vector.py) scans the corpus per query batch; past the point
where |Q|·|corpus| scoring dominates, switch to
``BucketedRandomProjectionLSH``: fit once (random hyperplane projections,
deterministic with a seed), bucket both sides, and only colliding buckets
join. This is the MLlib analog of the reference's FAISS index
(``enhanced_internal_db_service.py:602-630``) — batch-built, columnar,
persistable (S11/S12: model.save + bucketed parquet).
"""

from __future__ import annotations

from pyspark.ml.feature import BucketedRandomProjectionLSH
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fit_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    bucket_length: float = 0.5,
    num_tables: int = 4,
    seed: int = 42,
):
    """Fit the projection model on (id, embedding ARRAY<FLOAT>)."""
    with_vec = df.withColumn("features", array_to_vector(F.col(vec_col)))
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_tables,
        seed=seed,
    )
    return lsh.fit(with_vec), with_vec


def ann_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by L2 distance for one query vector."""
    from pyspark.ml.linalg import Vectors

    model, with_vec = fit_lsh(df, vec_col)
    return model.approxNearestNeighbors(
        with_vec, Vectors.dense(query_vec), k, distCol="dist"
    ).drop("features", "hashes")


def ann_similarity_join(
    df: DataFrame,
    max_dist: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate all-pairs within L2 ``max_dist`` — LSH-pruned self-join
    (only colliding buckets meet), the scale form of near-dup search."""
    model, with_vec = fit_lsh(df, vec_col)
    joined = model.approxSimilarityJoin(with_vec, with_vec, max_dist, distCol="dist")
    return (
        joined.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.col("dist"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )


# ---------------------------------------------------------------------------
# Deterministic random-projection LSH (round 5)
#
# MLlib's BucketedRandomProjectionLSH draws hyperplanes from a JVM-seeded
# RNG — deterministic per JVM but not reproducible in another engine, so
# its candidates can only ever be rows-only-checked. The signed-projection
# family below derives every hyperplane component from md5 (Rademacher
# ±1 per (table, plane, dim)) and takes every sign decision in int64
# fixed-point — the bucketing, the candidate set, and the verify scores
# are all EXACTLY reproducible in any engine (driver hash-checkable SQL
# oracle). Same scale shape as MinHash banding: one narrow projection
# pass, one equi-join on exploded (table, bucket) keys, exact verify on
# collisions only. Recall knob = tables × planes (collision probability
# per plane is 1 - theta/pi — classic SRP/SimHash-for-cosine).
# ---------------------------------------------------------------------------

import hashlib as _hashlib

from backend_fastapi_spark.operators.kernel import (
    gram_pairs,
    merge_topk,
    quantize,
    stack,
)
from backend_fastapi_spark.operators.vector import int_dot


def rp_size_for(n_vectors: int, target_bucket: int = 64,
                n_tables: int = 6) -> tuple[int, int]:
    """(n_tables, n_planes) sized to the corpus — THE scale knob for
    :func:`rp_near_dup_pairs`. Buckets per table = 2^planes is fixed by
    the plane count, so with planes held constant the candidate volume
    grows ~n²/2^planes: measured at sf10 (200k vectors), the 8-plane
    default generated ~312M candidates and took 238 s, while 12 planes
    cut it to 26.9 s and 14 planes to 17.2 s (SCALING.md r7). Keep the
    expected bucket ~``target_bucket`` by planes ≈ log2(n/target);
    each added plane lowers per-table collision probability for true
    pairs, so recall is restored by more tables (the classic LSH
    budget: tables × per-table-recall). The registered oracle query
    keeps the fixed 4×8 configuration — this helper is for corpus-sized
    production calls."""
    import math

    planes = max(8, math.ceil(math.log2(max(n_vectors, 1) / max(target_bucket, 1))))
    return n_tables, planes


def rp_planes(dim: int, n_tables: int, n_planes: int) -> list[list[list[int]]]:
    """Rademacher hyperplanes H[t][p][d] in {-1, +1}, each component the
    md5 parity of "t|p|d" — a pure function, identical everywhere."""
    return [
        [
            [
                1 if _hashlib.md5(f"{t}|{p}|{d}".encode()).digest()[0] & 1 else -1
                for d in range(dim)
            ]
            for p in range(n_planes)
        ]
        for t in range(n_tables)
    ]


def _rp_signatures(base: DataFrame, H, n_tables: int, n_planes: int) -> DataFrame:
    """(_id, t, bucket) signature rows for a quantized frame ``base``
    (_id, _q ARRAY<LONG>): all n_tables·n_planes sign decisions in one
    per-Arrow-batch int64 matmul against the ±1 plane matrix ``H``,
    then bucket_t = Σ_p (dot ≥ 0) << p. Shared by the pair generator
    (rp_near_dup_pairs) and the top-k probe (rp_topk) so both sides of
    a query/corpus join hash with the identical rule. One body: this is
    the multiprobe=0 case of ``_rp_query_probes`` — the sign rule lives
    in exactly one place."""
    return _rp_query_probes(base, H, n_tables, n_planes, 0)


def _rp_query_probes(
    qbase: DataFrame, H, n_tables: int, n_planes: int, multiprobe: int
) -> DataFrame:
    """(_id, t, bucket) probe rows for the QUERY side of rp_topk,
    including ``multiprobe`` extra buckets per (query, table): the base
    bucket's 1-bit flips ordered by |plane dot| ascending — the planes
    the query sits closest to are the ones a true neighbor most likely
    falls on the other side of (multi-probe LSH, Lv et al. 2007). Corpus
    signatures stay single-bucket; only the tiny query side fans out, so
    recall rises with ZERO extra corpus shuffle or signature cost."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    weights = 1 << np.arange(n_planes, dtype=np.int64)
    id_field = qbase.schema["_id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("_id", id_field),
            T.StructField("t", T.IntegerType(), False),
            T.StructField("bucket", T.LongType(), False),
        ]
    )
    n_probe = 1 + max(0, min(multiprobe, n_planes))

    def probes(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            Q = np.stack(pdf["_q"].to_numpy()).astype(np.int64)
            dots = (Q @ H.T).reshape(len(Q), n_tables, n_planes)
            base = ((dots >= 0) * weights).sum(axis=2)  # (n, tables)
            buckets = [base]
            if n_probe > 1:
                # flip order: |dot| ascending per (row, table) — skipped
                # entirely on the plain-signature path (corpus side),
                # where the argsort would be pure waste
                order = np.argsort(np.abs(dots), axis=2, kind="stable")
                for j in range(n_probe - 1):
                    buckets.append(
                        base ^ (1 << order[:, :, j]).astype(np.int64)
                    )
            stacked = np.stack(buckets, axis=2)  # (n, tables, n_probe)
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"].to_numpy().repeat(n_tables * n_probe),
                    "t": np.tile(
                        np.arange(n_tables, dtype=np.int32).repeat(n_probe),
                        len(Q),
                    ),
                    "bucket": stacked.reshape(-1),
                }
            )

    return qbase.mapInPandas(probes, schema=out_schema)


def rp_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_embedding",
    dim: int = 64,
    n_tables: int = 8,
    n_planes: int = 12,
    exclude_self: bool = False,
    multiprobe: int = 0,
) -> DataFrame:
    """Deterministic RP-LSH top-k: (q_id, vec_id, score_i64) — the
    bucket-probed ANN SEARCH twin of rp_near_dup_pairs (that one answers
    "all near pairs", this one "nearest k to each query"), and the
    LSH-bucketed alternative to the IVF probe path (ivf.py) with zero
    model fit and no driver-side centroid collect.

    Plan shape: both sides quantize once and signature once (the shared
    ±1 matmul), then ONE equi-join on (table, bucket) — the corpus never
    self-joins and only colliding candidates are exact-scored with the
    fixed-point dot before a per-query top-k window. Candidates per
    query ≈ n_tables · n/2^planes, so ``rp_size_for`` keeps the probed
    fraction flat as the corpus grows. Deterministic end to end
    (md5-parity planes + integer dots + (score DESC, id ASC) tie-break)
    — hash-checkable against a SQL oracle, unlike MLlib's seeded
    ``ann_topk``. Queries missing every bucket of a true neighbor simply
    return fewer than k rows (recall, not correctness, is the knob —
    measured per-round in the bench's clustered-ANN stanza).

    ``multiprobe=T`` additionally probes, per (query, table), the T
    buckets reached by flipping the base signature's lowest-|dot| single
    bits (multi-probe LSH, Lv et al. 2007): near-boundary planes are
    where true neighbors land on the other side, so recall rises like
    adding tables — but only the handful of QUERY probe rows fan out;
    corpus signatures, shuffle volume, and index cost are unchanged.
    The registered oracle query keeps multiprobe=0 (the SQL twin stays
    one CTE); the recall lift is measured in the clustered-ANN stanza
    and asserted on planted twins in tests."""
    import numpy as np

    from backend_fastapi_spark.operators.util import materialize

    planes = rp_planes(dim, n_tables, n_planes)
    H = np.array(
        [planes[t][p] for t in range(n_tables) for p in range(n_planes)],
        dtype=np.int64,
    )
    corpus = materialize(
        df.select(
            F.col(id_col).alias("_id"), quantize(F.col(vec_col)).alias("_q")
        )
    )
    qbase = queries.select(
        F.col(q_id_col).alias("_id"), quantize(F.col(q_vec_col)).alias("_q")
    )
    corpus_sig = _rp_signatures(corpus, H, n_tables, n_planes)
    # The query side is a handful of rows — its signature frame
    # broadcasts, so the candidate join is shuffle-free on the corpus.
    query_sig = F.broadcast(
        _rp_query_probes(qbase, H, n_tables, n_planes, multiprobe)
        .withColumnRenamed("_id", "_qid")
    )
    cand = (
        corpus_sig.join(query_sig, ["t", "bucket"])
        .select(F.col("_qid"), F.col("_id"))
        .distinct()
    )
    if exclude_self:
        cand = cand.filter(F.col("_qid") != F.col("_id"))
    scored = (
        cand.join(corpus, "_id")
        .join(
            F.broadcast(qbase.select(F.col("_id").alias("_qid"),
                                     F.col("_q").alias("_qq"))),
            "_qid",
        )
        .select(
            F.col("_qid").alias(q_id_col),
            F.col("_id").alias(id_col),
            int_dot(F.col("_q"), F.col("_qq")).alias("score_i64"),
        )
    )
    return merge_topk(scored, q_id_col, id_col, k)


def rp_near_dup_pairs(
    df: DataFrame,
    threshold_i64: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 4,
    n_planes: int = 8,
) -> DataFrame:
    """Approximate near-dup pairs with fully deterministic LSH: rows
    colliding in at least one table's bucket are verified with the exact
    fixed-point dot; pairs at or above ``threshold_i64`` survive.

    Plan shape: quantize once (narrow), all n_tables×n_planes sign
    decisions in ONE per-Arrow-batch int64 matmul (VERDICT r05 #8's
    "±1 matrix product via the existing batch machinery" — lambda
    higher-order functions evaluate interpreted, so expression-level
    dots were the constant-factor ceiling), then verify WITHIN each
    (table, bucket) group by a per-group BLAS Gram matmul
    (``applyInPandas`` — the ``near_dup_pairs_matmul`` discipline
    applied to LSH buckets), emitting only above-threshold pairs, and
    dedup the survivors across tables. Never all-pairs, no model fit.

    Why bucket-local matmul and not a candidate-pair join (VERDICT r12
    directive #5, resolved by measurement): the former verify stage
    materialized the DISTINCT colliding-pair set (43.9 M rows at sf10
    under the sized 6×12 config) and then attached two 512 B int64
    arrays per pair — ~44 GB through the join — before an interpreted
    per-element dot. Scoring inside the bucket attaches arrays to the
    1.2 M SIGNATURE rows instead (~0.7 GB), runs the exact dots as
    dense float64 BLAS (integer-exact: products ≤ 4e12, 64-term sums ≤
    2.6e14 ≪ 2^53 — ``kernel.gram_pairs``, which checks the envelope
    loudly per group), and shuffles only the ≤ n_tables copies of the
    TRUE pairs to the final distinct. An SQ8-code prescreen of the pair
    join was also measured and REJECTED: at sf10 the lossless
    reconstruction bound (dim·sa·sb/126 ≈ cos 0.06 of slack) pruned too
    little of the angle-biased candidate set to pay for its extra pass
    (75 s vs 38 s vs this path — SCALING.md r13). Output is
    value-identical to the pair-join form and to the DuckDB oracle:
    same colliding-pair universe, same exact integer scores, same
    threshold.
    """
    import numpy as np
    import pandas as pd

    from backend_fastapi_spark.operators.util import materialize

    planes = rp_planes(dim, n_tables, n_planes)
    # Materialize the quantized corpus: read twice (the signature pass
    # and the signature-row array attach) — lineage recomputation would
    # scan+quantize the raw vectors once per read.
    base = materialize(
        df.select(
            F.col(id_col).alias("_id"), quantize(F.col(vec_col)).alias("_q")
        )
    )

    # All n_tables·n_planes hyperplane dots per row as one int64 matmul
    # (exact: ±1 entries, |q| components ≤ 1e6·scale → every dot < 2^53
    # ≪ 2^63), then bucket_t = Σ_p (dot ≥ 0) << p — identical sign rule
    # to the SQL oracle. Emits the (id, t, bucket) rows directly.
    H = np.array(
        [planes[t][p] for t in range(n_tables) for p in range(n_planes)],
        dtype=np.int64,
    )  # (n_tables·n_planes, dim)

    keyed = _rp_signatures(base, H, n_tables, n_planes)
    grouped = keyed.join(base, "_id").select("t", "bucket", "_id", "_q")

    id_ddl = base.schema["_id"].dataType.simpleString()

    def score_group(ids: "np.ndarray", m: "np.ndarray", sink: list) -> None:
        """Exact Gram verify of ONE (table, bucket) group — appends
        (id_a, id_b, score) arrays for above-threshold i<j pairs."""
        if len(ids) >= 2:
            ia, ib, s = gram_pairs(threshold_i64, ids, m)
            if ia.size:
                sink.append((ia, ib, s))

    def score_batches(pdfs):
        """mapInPandas over (t, bucket)-clustered rows: per-group work is
        pure numpy on slices, ONE Python invocation per Arrow batch.
        The previous applyInPandas form paid ~1 ms of pandas group-apply
        machinery per GROUP — with 2^planes buckets per table most
        groups hold a handful of rows, and group count (not data volume)
        dominated the stage (measured sf0.1: 9.9 s for 12 k rows in
        ~11 k groups; this form: one call per ~10k-row batch). A batch
        boundary can split a group, so the trailing group of each batch
        is carried into the next as a LIST of frames concatenated once
        when the group closes — re-concatenating the growing carry on
        every batch would copy a mega-group's rows quadratically in the
        number of batches it spans (ADVICE r13). Rows of one group are
        contiguous because the input is repartitioned by (t, bucket)
        and sorted within partitions."""
        carry: list = []   # frames of the single open (trailing) group
        ckey = None        # that group's (t, bucket)
        sink: list = []

        def close_carry() -> None:
            if not carry:
                return
            pdf = carry[0] if len(carry) == 1 else pd.concat(
                carry, ignore_index=True
            )
            carry.clear()
            score_group(pdf["_id"].to_numpy(), stack(pdf["_q"]), sink)

        def flush(pdf: pd.DataFrame) -> None:
            # group boundaries where (t, bucket) changes
            t = pdf["t"].to_numpy()
            b = pdf["bucket"].to_numpy()
            brk = np.nonzero((t[1:] != t[:-1]) | (b[1:] != b[:-1]))[0] + 1
            starts = np.concatenate(([0], brk))
            ends = np.concatenate((brk, [len(pdf)]))
            ids = pdf["_id"].to_numpy()
            m = stack(pdf["_q"])
            for s, e in zip(starts, ends):
                score_group(ids[s:e], m[s:e], sink)

        for pdf in pdfs:
            if pdf.empty:
                continue
            t = pdf["t"].to_numpy()
            b = pdf["bucket"].to_numpy()
            if carry and ckey != (t[0], b[0]):
                close_carry()
            if carry:
                # batch head continues the open group: split it off
                cont = (t == ckey[0]) & (b == ckey[1])
                if cont.all():
                    carry.append(pdf)
                    continue
                head_end = int(np.argmin(cont))  # first row past the group
                carry.append(pdf.iloc[:head_end])
                close_carry()
                pdf = pdf.iloc[head_end:].reset_index(drop=True)
                t, b = t[head_end:], b[head_end:]
            # hold back the last group — it may continue in the next batch
            last_start = int(
                np.nonzero((t != t[-1]) | (b != b[-1]))[0][-1] + 1
            ) if ((t != t[-1]) | (b != b[-1])).any() else 0
            ckey = (t[-1], b[-1])
            carry.append(pdf.iloc[last_start:])
            if last_start:
                flush(pdf.iloc[:last_start])
            if sink:
                a, bb, s = (np.concatenate(x) for x in zip(*sink))
                sink.clear()
                yield pd.DataFrame({"id_a": a, "id_b": bb, "score_i64": s})
        close_carry()
        if sink:
            a, bb, s = (np.concatenate(x) for x in zip(*sink))
            yield pd.DataFrame({"id_a": a, "id_b": bb, "score_i64": s})

    scored = (
        grouped.repartition("t", "bucket")
        .sortWithinPartitions("t", "bucket")
        .mapInPandas(
            score_batches,
            schema=f"id_a {id_ddl}, id_b {id_ddl}, score_i64 long",
        )
    )
    # a pair colliding in k tables is emitted k times with the SAME exact
    # score — distinct on the full row is the cross-table dedup
    return scored.distinct()
