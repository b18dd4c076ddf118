"""The exact fixed-point scoring kernel: every scorer built on it fails
loudly outside the 2^53 envelope, and the pieces it owns have no second
copy in the package."""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "backend_fastapi_spark"

# |component| 1e4 → |fx| 1e10: a 2-dim dot reaches 2e20 ≫ 2^53
BIG = 1.0e4


def _corpus(spark):
    return spark.createDataFrame(
        [(0, "a", [BIG, 0.0]), (1, "a", [BIG, 1.0]), (2, "a", [0.0, BIG])],
        "vec_id long, label string, embedding array<double>",
    )


def _queries(spark, vec=(BIG, 0.0)):
    return spark.createDataFrame(
        [(9, list(vec))], "q_id long, q_embedding array<double>"
    )


def _knn(spark, metric):
    from backend_fastapi_spark.operators.vector import knn_exact

    return knn_exact(_corpus(spark), _queries(spark), k=2, metric=metric)


def _near_dup(spark):
    from backend_fastapi_spark.operators.vector import near_dup_pairs_matmul

    return near_dup_pairs_matmul(_corpus(spark), 1, block_col="label")


def _sq8(spark):
    from backend_fastapi_spark.operators.vector import sq8_topk

    return sq8_topk(_corpus(spark), _queries(spark), k=2)


def _centroid_probe(spark):
    from backend_fastapi_spark.operators.ivf import _centroid_probe

    centroids = _corpus(spark).select(
        F.col("vec_id").alias("cluster"), F.col("embedding").alias("centroid")
    )
    return _centroid_probe(centroids, _queries(spark), 2)


def _ivf_search_over(spark):
    # real 64-dim embeddings in four lists, one query far outside the
    # envelope (|fx| < ~2^26/sqrt(dim) holds for every corpus vector)
    from backend_fastapi_spark.operators.ivf import ivf_search_over

    probed = [0, 1, 2, 3]
    lists = (
        spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
        .withColumn("cluster", (F.col("vec_id") % 8).cast("int"))
        .filter(F.col("cluster").isin(probed))
    )
    huge = spark.createDataFrame(
        [(0, [4.0e9] * 64)], "q_id long, q_embedding array<double>"
    )
    return ivf_search_over(
        lists, None, huge, k=5, probe_rows=[(0, c) for c in probed]
    )


def _rp_near_dup(spark):
    from backend_fastapi_spark.operators.lsh import rp_near_dup_pairs

    return rp_near_dup_pairs(_corpus(spark), 1, dim=2)


def _semdedup(spark):
    # pre-assigned to one cluster: the coarse assignment of the same
    # vectors raises first (the assign_arrow case), so the Gram is reached
    # only past it
    from backend_fastapi_spark.operators.kernel import quantize
    from backend_fastapi_spark.operators.semdedup import semantic_dedup_pairs

    corpus = _corpus(spark)
    assigned = corpus.select(
        "vec_id",
        quantize(F.col("embedding")).alias("_qv"),
        F.lit(0).alias("cluster"),
    )
    return semantic_dedup_pairs(corpus, 1, k_clusters=1, assigned=assigned)


def _mmr(spark, query):
    from backend_fastapi_spark.operators.retrieval import mmr_topk

    corpus = spark.createDataFrame(
        [(0, [3000.0, 0.0]), (1, [0.0, 3000.0]), (2, [2000.0, 2000.0])],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(0, query)], "q_id long, q_embedding array<float>"
    )
    return mmr_topk(corpus, queries, shortlist=3, select=2)


def _assign_arrow(spark):
    # int64 |q|² − 2q·c + |c|² wraps here: argmin picked cluster 1, while
    # the exact distances are 4e8 (cluster 0) and ~1.8e19 (cluster 1)
    from backend_fastapi_spark.operators.ivf import _assign_arrow

    q = 3037000500
    base = spark.createDataFrame(
        [(0, [q, q])], "vec_id long, _qv array<bigint>"
    )
    return _assign_arrow(base, [(0, [q, 3036980500]), (1, [0, 0])], "vec_id")


# (scorer, a trace of the frame — or for sq8 the message — where the
# envelope must fire, so each case reaches the scorer it names)
CASES = {
    "knn_exact_dot": (lambda s: _knn(s, "dot"), "in score\n"),
    "knn_exact_l2": (lambda s: _knn(s, "l2"), "in score\n"),
    "near_dup_pairs_matmul": (_near_dup, "in chunk_pair\n"),
    "sq8_topk": (_sq8, "sq8: vectors exceed"),
    "centroid_probe": (_centroid_probe, "in _centroid_probe\n"),
    "ivf_search_over": (_ivf_search_over, "in score\n"),
    "rp_near_dup_pairs": (_rp_near_dup, "in score_group\n"),
    "semantic_dedup_pairs": (_semdedup, "in pairs\n"),
    "assign_arrow": (_assign_arrow, "in assign\n"),
    # all three vectors and the query past the envelope: the shortlist's
    # knn_exact stops first
    "mmr_topk": (lambda s: _mmr(s, [3000.0, 0.0]), "in score\n"),
    # a tiny query keeps the shortlist inside; the Gram of the shortlist
    # itself is not
    "mmr_topk_gram": (lambda s: _mmr(s, [1e-3, 0.0]), "in greedy\n"),
}


@pytest.mark.parametrize("case", list(CASES))
def test_scorers_raise_outside_exact_envelope(spark, case):
    scorer, where = CASES[case]
    with pytest.raises(Exception, match="fixed-point envelope") as err:
        out = scorer(spark)
        if not isinstance(out, tuple):
            out.collect()
    # worker frames arrive in the message, driver frames in the traceback
    trace = str(err.value) + "".join(f"in {e.name}\n" for e in err.traceback)
    assert where in trace, trace[-3000:]


# Pieces kernel.py owns: a second copy anywhere else in the package is a
# second definition that can drift from the oracle.
_KERNEL_ONLY = {
    "2^53 literal": re.compile(r"\b2(\.0)?\s*\*\*\s*53\b"),
    "FIXED_SCALE array quantizer": re.compile(
        r"F\.(round|transform)\(.*\bFIXED_SCALE\b"
    ),
    "quantizer definition": re.compile(r"\bdef (_quantize|_fx)\b"),
    "MAX_QUERY_ROWS assignment": re.compile(r"\bMAX_QUERY_ROWS\s*=(?!=)"),
}


def test_fixed_point_pieces_live_only_in_kernel():
    offenders = [
        f"{p.relative_to(PACKAGE)}:{i}: {what}"
        for p in sorted(PACKAGE.rglob("*.py"))
        if p.relative_to(PACKAGE).as_posix() != "operators/kernel.py"
        for i, line in enumerate(p.read_text(encoding="utf-8").splitlines(), 1)
        for what, rx in _KERNEL_ONLY.items()
        if rx.search(line)
    ]
    assert offenders == []
