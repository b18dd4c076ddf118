"""Exact fixed-point scoring kernel — the one copy of what every vector
scorer shares.

The reference answers kNN, near-dup and SemDeDup-style questions through
FAISS/Chroma calls (``src/services/enhanced_internal_db_service.py:602-727``).
The engine answers all of them with one idea:

- ``quantize`` every component to fixed point in Spark (round(x·1e6) as
  int64, half away from zero — Spark's and DuckDB's ROUND agree), so a
  score is an integer any engine reproduces;
- multiply each Arrow batch against the driver-small query matrix in
  float64, which represents every integer below 2^53 exactly, so BLAS
  returns the int64 scores whatever its summation order — as long as
  ``check_exact`` holds, and it raises when it does not;
- keep a batch-local top-k per query (``topk``, ``exact_topk``) and merge
  the batches with one window (``merge_topk``) — REPOSE's local top-k
  plus global merge (ICDE 2021);
- operators that want every pair above a threshold instead threshold a
  strip-bounded Gram (``gram_pairs``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from backend_fastapi_spark.operators.relational import per_group_top_n
from backend_fastapi_spark.operators.util import bounded_collect

FIXED_SCALE = 1_000_000  # 1e6 per element → dot values ≤ 1e12·dim
MAX_QUERY_ROWS = 100_000  # ~50 MB at 64 dims — broadcast-sized
_EXACT_LIMIT = 2.0**53  # float64 represents every integer below this
_STRIP_BYTES = 64 << 20  # Gram strip per gram_pairs call


def fx(x: Column) -> Column:
    """Quantize one float to fixed-point int64 (half-away-from-zero,
    matching DuckDB/Spark ROUND). Explicit double cast first: float32
    arithmetic would round differently across engines."""
    return F.round(x.cast("double") * FIXED_SCALE, 0).cast("long")


def quantize(vec: Column) -> Column:
    """An array column quantized element-wise with ``fx`` (array<bigint>)."""
    return F.transform(vec, fx)


def collect_queries(
    queries: DataFrame,
    query_id: str = "q_id",
    vec_col: str = "q_embedding",
    extra: tuple = (),
) -> list | None:
    """The driver-small query side as rows ``(_qid, _qv, *extra)`` with
    ``_qv`` quantized in Spark, so no Python rounding can diverge from
    the oracle. One bounded job (``bounded_collect``: the frame is a
    projection of ``queries``); None when it holds more than
    ``MAX_QUERY_ROWS`` rows."""
    rows = bounded_collect(
        queries.select(
            F.col(query_id).alias("_qid"),
            quantize(F.col(vec_col)).alias("_qv"),
            *extra,
        ),
        MAX_QUERY_ROWS,
    )
    return None if len(rows) > MAX_QUERY_ROWS else rows


def query_matrix(rows: list) -> tuple[list, np.ndarray]:
    """(ids, float64 matrix) of ``(id, quantized vector)`` rows."""
    return [r[0] for r in rows], stack([r[1] for r in rows])


def stack(vectors, dtype=np.float64) -> np.ndarray:
    """One matrix row per array of an Arrow batch column (or list)."""
    return np.stack(list(vectors)).astype(dtype)


def absmax(m: np.ndarray) -> float:
    return float(np.abs(m).max(initial=0.0))


def check_exact(dim: int, a_max: float, b_max: float) -> None:
    """Raise unless a ``dim``-term dot of fixed-point components bounded
    by ``a_max`` and ``b_max`` keeps every partial sum below 2^53, where
    float64 stops representing every integer: past it the matmul would
    silently round away from the int64 oracle. A squared-L2 distance
    expanded as |a|² + |b|² − 2a·b is bounded by passing ``a_max +
    b_max`` for both."""
    if dim * a_max * b_max >= _EXACT_LIMIT:
        raise ValueError(
            "vectors exceed the exact fixed-point envelope "
            f"(dim={dim}, max|fx|={a_max:.3g} and {b_max:.3g}, "
            "dim*max_a*max_b >= 2^53) — the float64 matmul would round; "
            "normalize the vectors or reduce dim"
        )


def sq_l2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Squared-L2 distances between the fixed-point rows of ``a`` and
    ``b`` as |a|² − 2a·b + |b|², one float64 matmul: integer-exact, or a
    ValueError outside the envelope (int64 arithmetic would instead wrap
    silently and pick the wrong nearest row)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    bound = absmax(a) + absmax(b)
    check_exact(a.shape[1], bound, bound)
    return (
        (a * a).sum(axis=1)[:, None] - 2.0 * (a @ b.T)
        + (b * b).sum(axis=1)[None, :]
    )


def gram(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``a @ b.T`` of quantized float64 rows — integer-exact, or a
    ValueError outside the envelope."""
    check_exact(a.shape[1], absmax(a), absmax(b))
    return a @ b.T


def topk(scores: np.ndarray, ids: np.ndarray, k: int, desc: bool) -> np.ndarray:
    """Indices of the ``k`` best ``scores`` in the total order (score
    better-first, id asc) — the merge window's order, so a batch-local
    top-k is a superset of the global winners it holds."""
    return np.lexsort((ids, -scores if desc else scores))[:k]


def topk_scorer(
    q_ids: list,
    qm: np.ndarray,
    k: int,
    metric: str = "dot",
    exclude_self: bool = False,
    c2q: dict | None = None,
):
    """``score(ids, m, groups=None) -> (query ids, row indices, scores)``:
    the per-query top-k of one block of quantized rows ``m`` against the
    query matrix ``qm`` — "dot" (best = largest) or "l2" (squared
    distance, best = smallest). ``c2q`` maps a group label to the sorted
    query indices probing it, and ``groups`` labels each row: a row is
    then scored only against its group's queries (an IVF list and its
    probes). Without ``c2q`` every query probes the one list of all rows.
    ``exclude_self`` drops a row whose id equals the query's."""
    if metric not in ("dot", "l2"):
        raise ValueError(f"unknown metric {metric}")
    l2 = metric == "l2"
    q_max = absmax(qm)
    every_query = np.arange(len(q_ids))

    def score(ids: np.ndarray, m: np.ndarray, groups: np.ndarray | None = None):
        m_max = absmax(m)
        if l2:
            check_exact(m.shape[1], m_max + q_max, m_max + q_max)
        else:
            check_exact(m.shape[1], m_max, q_max)
        if c2q is None:
            parts = [(np.arange(len(ids)), every_query)]
        else:
            # a group's rows need not be contiguous (delta segments may
            # interleave), so index them by value
            order = np.argsort(groups, kind="stable")
            g_sorted = groups[order]
            brk = np.nonzero(g_sorted[1:] != g_sorted[:-1])[0] + 1
            parts = [(idx, c2q.get(groups[idx[0]])) for idx in np.split(order, brk)]
        hits: dict = {}
        for idx, js in parts:
            if js is None or js.size == 0:
                continue
            g = sq_l2(m[idx], qm[js]) if l2 else m[idx] @ qm[js].T
            for col, j in enumerate(js):
                hits.setdefault(j, []).append((idx, g[:, col]))
        out_q, out_i, out_s = [], [], []
        for j, parts_j in hits.items():
            idx = np.concatenate([p[0] for p in parts_j])
            s = np.concatenate([p[1] for p in parts_j])
            if exclude_self:
                keep = np.asarray(ids[idx] != q_ids[j])
                # incomparable id types (string query ids vs int corpus
                # ids) compare to a scalar: nothing can be 'self'
                if keep.ndim:
                    idx, s = idx[keep], s[keep]
            perm = topk(s, ids[idx], k, desc=not l2)
            out_q.extend([q_ids[j]] * perm.size)
            out_i.append(idx[perm])
            out_s.append(s[perm])
        if not out_i:
            return out_q, np.empty(0, dtype=np.int64), np.empty(0)
        return out_q, np.concatenate(out_i), np.concatenate(out_s)

    return score


def merge_topk(
    df: DataFrame, by: str, id_col: str, k: int,
    score: str = "score_i64", desc: bool = True,
) -> DataFrame:
    """The global top-``k`` per ``by`` in (score better-first, id asc)
    order — one window over the batch-local candidates."""
    s = F.col(score).desc() if desc else F.col(score).asc()
    return per_group_top_n(df, [by], [s, F.col(id_col).asc()], k)


def exact_topk(
    slim: DataFrame,
    q_ids: list,
    qm: np.ndarray,
    k: int,
    qid_type: str,
    metric: str = "dot",
    exclude_self: bool = False,
    c2q: dict | None = None,
) -> DataFrame:
    """Exact top-``k`` per query over ``slim`` — columns ``_cid``,
    ``_cv`` (quantized) and, with ``c2q``, the group label ``_grp`` —
    as ``(_qid, _cid[, _grp], score_i64)``. Each Arrow batch scores
    against the query matrix (``topk_scorer``) and emits only its
    batch-local top-k per query: the corpus never moves and no
    |corpus|×|Q| row set exists; one window merges the candidates. The
    query matrix rides in the task closure."""
    score = topk_scorer(q_ids, qm, k, metric, exclude_self, c2q)
    grouped = c2q is not None

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["_cid"].to_numpy()
            groups = pdf["_grp"].to_numpy() if grouped else None
            q, idx, s = score(ids, stack(pdf["_cv"]), groups)
            out = {"_qid": q, "_cid": ids[idx]}
            if grouped:
                out["_grp"] = groups[idx]
            out["score_i64"] = s.astype(np.int64)
            yield pd.DataFrame(out)

    types = {f.name: f.dataType.simpleString() for f in slim.schema}
    schema = (
        f"_qid {qid_type}, _cid {types['_cid']}, "
        + (f"_grp {types['_grp']}, " if grouped else "")
        + "score_i64 long"
    )
    cands = slim.mapInPandas(run, schema=schema)
    return merge_topk(cands, "_qid", "_cid", k, desc=metric == "dot")


def gram_pairs(
    threshold: int,
    ids_a: np.ndarray,
    a: np.ndarray,
    ids_b: np.ndarray | None = None,
    b: np.ndarray | None = None,
    strip_rows: int = 2048,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(id_a, id_b, score) of every row pair whose exact dot is ≥
    ``threshold``, oriented id_a < id_b. Without ``b`` the rows of ``a``
    pair among themselves: each unordered pair once, no self pairs.
    Otherwise every (a, b) pair is a distinct candidate in arbitrary
    orientation and is swapped to canonical order. The Gram product runs
    in row strips of at most ``strip_rows`` rows and ~64 MB, so one
    skewed group stays bounded."""
    self_pair = b is None
    if self_pair:
        ids_b, b = ids_a, a
    if len(ids_a) == 0 or len(ids_b) == 0:
        return ids_a[:0], ids_b[:0], np.empty(0, dtype=np.int64)
    check_exact(a.shape[1], absmax(a), absmax(b))
    strip = max(1, min(strip_rows, _STRIP_BYTES // (8 * len(ids_b))))
    out = []
    for s0 in range(0, len(ids_a), strip):
        g = a[s0:s0 + strip] @ b.T
        rr, cc = np.nonzero(g >= threshold)
        ia, ib, s = ids_a[s0 + rr], ids_b[cc], g[rr, cc].astype(np.int64)
        lt = ia < ib
        if self_pair:
            ia, ib, s = ia[lt], ib[lt], s[lt]
        else:
            ia, ib = np.where(lt, ia, ib), np.where(lt, ib, ia)
        out.append((ia, ib, s))
    return tuple(np.concatenate(x) for x in zip(*out))
