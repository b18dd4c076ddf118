"""Deterministic, hash-checkable sketches — HyperLogLog and Count-Min.

SURVEY §2 lists sketch aggregations as the 100 TB answer to distinct
counts and heavy hitters (reference analog: the stats surfaces in
src/services/db_llm_service.py aggregate over full tables; at scale those
become sketches). Spark's builtins (approx_count_distinct /
count_min_sketch) are engine-specific — their estimates can't be
reproduced in another engine, so they can only ever be rows-only
evidence (`approx_sketch_stats`). These twins extend the round-5
deterministic-oracle pattern (md5-derived parameters + pure integer
arithmetic, see operators/lsh.py rp_lsh) to sketches: every hash bit
comes from md5, every register update and estimate is int64 arithmetic,
so DuckDB reproduces the sketch BIT-FOR-BIT and the driver hash-checks
bucketing, registers, and estimates — the first oracle-green sketches.

Scale posture (both sketches):
- ONE shuffle with map-side combine. HLL partials are ≤ m rows per
  (group, partition); CMS partials are ≤ d·w rows per partition — the
  classic mergeable-summary property, expressed as a plain groupBy so
  Catalyst plans the partial/final aggregate split itself.
- No exact-distinct shuffle of the raw keys, no global sort. The
  estimate step runs over ≤ m (resp. d·w) rows — driver-scale constants.
- CMS keyside join: the counter table (d·w rows) is broadcast, so the
  per-key probe join is shuffle-free; enumerating probe keys costs one
  distinct over (key, row, bucket) — map-side partial dedup means that
  exchange carries at most (distinct keys per partition)·d rows, the
  candidate-set cost every batch heavy-hitter report pays, not a
  raw-row shuffle.

Determinism rules (so the DuckDB oracle hash-matches):
- hash = first 8 hex chars of md5(CAST(key AS STRING)) parsed base-16 —
  a 32-bit value; identical strings on both engines.
- HLL rho via integer bit-length (length(bin(w))), never float log2.
- 2^k via integer shiftleft, never POWER() doubles.
- Estimates via int64 multiply + floor division (DIV / //), never
  double division; alpha is a parts-per-million integer constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from backend_fastapi_spark.operators.util import local_frame, materialize

# --- HyperLogLog (p=8 -> m=256 registers, ~6.5% std error) ------------
HLL_P = 8
HLL_M = 1 << HLL_P  # 256 registers
HLL_W_BITS = 32 - HLL_P  # 24-bit remainder
HLL_W_MOD = 1 << HLL_W_BITS  # 16777216
HLL_RHO_MAX = HLL_W_BITS + 1  # 25: rho when the remainder is all zeros
# alpha_256 = 0.7213 / (1 + 1.079/256), scaled to parts-per-million.
HLL_ALPHA_PPM = 718271
# E = alpha * m^2 / sum(2^-M_j).  With reg_sum = sum(2^(RHO_MAX - M_j))
# (an exact int64: each term is a shift), sum(2^-M_j) = reg_sum / 2^RHO_MAX
# so E = HLL_NUMER / reg_sum / 1e6 with the all-integer numerator below
# (1.58e18 — fits int64 with 5.8x headroom).
HLL_NUMER = HLL_ALPHA_PPM * HLL_M * HLL_M * (1 << HLL_RHO_MAX)
# Small-range (linear-counting) correction: when the raw estimate is
# ≤ 2.5m and zero registers remain, the standard HLL answer is
# m·ln(m/V). ln is the one step that could diverge between engines'
# libm, so it is PRECOMPUTED here — V ranges over 1..m-1, giving a
# 255-entry integer table emitted as a literal lookup in BOTH the Spark
# plan and the DuckDB oracle (single source of truth, zero runtime
# floats). Computed once at import from Python's math.log.
HLL_LC_CUT = 5 * HLL_M // 2  # 2.5m with m divisible by 2
import math as _math

HLL_LC_TABLE = [
    int(round(HLL_M * _math.log(HLL_M / v))) for v in range(1, HLL_M)
]  # HLL_LC_TABLE[V-1] = round(m * ln(m / V))

# --- Count-Min (d=4 rows x w=256 buckets, eps ~ e/256, delta ~ e^-4) --
CMS_D = 4
CMS_W = 256


def _h32(col):
    """First 32 bits of md5(string col) as a BIGINT — the shared
    deterministic hash (same idiom as the DuckDB oracle's
    CAST('0x'||substr(md5(x),1,8) AS BIGINT))."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def hll_sketch(df: DataFrame, key_col: str, label: str) -> DataFrame:
    """One-row DataFrame (src, n_rows, v_zero, reg_sum, hll_est): the
    deterministic-HLL distinct-count estimate of ``key_col``.

    Register update is groupBy(bucket).max(rho); absent buckets (register
    0) contribute 2^RHO_MAX each to reg_sum, added arithmetically from
    the present-bucket count — the 256-slot register array is never
    materialized dense. Full estimator: the raw harmonic-mean estimate
    above ~2.5m, the linear-counting correction m*ln(m/V) below it
    (via the precomputed integer HLL_LC_TABLE — engine-float-free), 0
    on empty input; accuracy in both regimes is bounded in
    tests/test_sketches.py.
    """
    # NULL keys carry no distinct-count information but would form their
    # own NULL-bucket group — inflating n_present (deflating v_zero by 1,
    # shorting reg_sum by 2^RHO_MAX) — so they are excluded, matching the
    # oracle's WHERE key IS NOT NULL.
    h = df.select(
        _h32(F.col(key_col).cast("string")).alias("hv")
    ).filter(F.col("hv").isNotNull()).select(
        F.shiftright(F.col("hv"), HLL_W_BITS).alias("bucket"),
        (F.col("hv") % F.lit(HLL_W_MOD)).alias("w"),
    )
    # rho = leading zeros in the 24-bit remainder + 1 = 25 - bitlen(w).
    rho = F.when(F.col("w") == 0, F.lit(HLL_RHO_MAX)).otherwise(
        F.lit(HLL_RHO_MAX) - F.length(F.bin(F.col("w")))
    )
    regs = (
        h.select(F.col("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("m_j"), F.count(F.lit(1)).alias("n_in_bucket"))
    )
    agg = regs.agg(
        F.sum("n_in_bucket").alias("n_rows"),
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_RHO_MAX} - m_j)")).alias(
            "present_sum"
        ),
    )
    lc = F.element_at(
        F.array(*[F.lit(x).cast("long") for x in HLL_LC_TABLE]),
        F.col("v_zero").cast("int"),
    )
    raw = F.expr(f"CAST({HLL_NUMER} AS BIGINT) DIV reg_sum DIV 1000000")
    return (
        # coalesce-to-0 on the empty-input sums: SUM over zero rows is
        # NULL in Spark but the oracle's COUNT(*) scalar is 0 — the
        # n_rows/reg_sum columns must agree bit-for-bit on that edge too
        agg.select(
            F.lit(label).alias("src"),
            F.coalesce(F.col("n_rows"), F.lit(0)).cast("long").alias("n_rows"),
            (F.lit(HLL_M) - F.col("n_present")).cast("long").alias("v_zero"),
            (
                F.coalesce(F.col("present_sum"), F.lit(0))
                + (F.lit(HLL_M) - F.col("n_present")) * F.lit(1 << HLL_RHO_MAX)
            )
            .cast("long")
            .alias("reg_sum"),
        )
        .withColumn("_raw", raw)
        .withColumn(
            "hll_est",
            F.when(F.col("v_zero") >= HLL_M, F.lit(0).cast("long"))
            .when(
                (F.col("v_zero") > 0) & (F.col("_raw") <= HLL_LC_CUT), lc
            )
            .otherwise(F.col("_raw")),
        )
        .drop("_raw")
    )


def hll_sketch_by(
    df: DataFrame,
    key_col: str,
    group_expr,
    merged_label: str = "merged",
) -> DataFrame:
    """Per-group deterministic HLL sketches PLUS their register-level
    merge — THE mergeability demo (and the reason sketches win at
    100 TB): each group (e.g. each day's partition) reduces to a
    ≤m-row (bucket → max rho) register table, and the union's sketch
    is just groupBy(bucket).max over the per-group registers — no
    re-scan of raw keys, ever. Returns one (src, n_rows, v_zero,
    reg_sum, hll_est) row per group (src = the group value as string)
    plus one ``merged_label`` row whose registers are the max-merge;
    because max is associative, the merged row is BIT-IDENTICAL to
    sketching the union directly (property-tested). NULL groups and
    NULL keys are excluded (no distinct-count information)."""
    h = df.select(
        group_expr.cast("string").alias("grp"),
        _h32(F.col(key_col).cast("string")).alias("hv"),
    ).filter(F.col("hv").isNotNull() & F.col("grp").isNotNull()).select(
        "grp",
        F.shiftright(F.col("hv"), HLL_W_BITS).alias("bucket"),
        (F.col("hv") % F.lit(HLL_W_MOD)).alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(HLL_RHO_MAX)).otherwise(
        F.lit(HLL_RHO_MAX) - F.length(F.bin(F.col("w")))
    )
    regs = (
        h.select("grp", F.col("bucket"), rho.alias("rho"))
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("m_j"), F.count(F.lit(1)).alias("n_in_bucket"))
    )
    # The merge: register-level max across groups (+ row-count sum).
    merged_regs = regs.groupBy("bucket").agg(
        F.max("m_j").alias("m_j"), F.sum("n_in_bucket").alias("n_in_bucket")
    ).withColumn("grp", F.lit(merged_label))

    def finalize(r: DataFrame) -> DataFrame:
        agg = r.groupBy("grp").agg(
            F.sum("n_in_bucket").alias("n_rows"),
            F.count(F.lit(1)).alias("n_present"),
            F.sum(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_RHO_MAX} - m_j)")
            ).alias("present_sum"),
        )
        lc = F.element_at(
            F.array(*[F.lit(x).cast("long") for x in HLL_LC_TABLE]),
            F.col("v_zero").cast("int"),
        )
        raw = F.expr(f"CAST({HLL_NUMER} AS BIGINT) DIV reg_sum DIV 1000000")
        return (
            agg.select(
                F.col("grp").alias("src"),
                F.col("n_rows").cast("long").alias("n_rows"),
                (F.lit(HLL_M) - F.col("n_present")).cast("long").alias("v_zero"),
                (
                    F.col("present_sum")
                    + (F.lit(HLL_M) - F.col("n_present")) * F.lit(1 << HLL_RHO_MAX)
                )
                .cast("long")
                .alias("reg_sum"),
            )
            .withColumn("_raw", raw)
            .withColumn(
                "hll_est",
                F.when(F.col("v_zero") >= HLL_M, F.lit(0).cast("long"))
                .when((F.col("v_zero") > 0) & (F.col("_raw") <= HLL_LC_CUT), lc)
                .otherwise(F.col("_raw")),
            )
            .drop("_raw")
        )

    return finalize(regs).unionByName(finalize(merged_regs))


def hll_by_oracle_sql(
    table: str, key_expr: str, group_expr: str, merged_label: str = "merged"
) -> str:
    """DuckDB twin of hll_sketch_by — per-group registers via the same
    md5/bucket/rho arithmetic, the merged row via MAX over the
    per-group register table, finalized with the shared estimator."""
    lc_list = ", ".join(str(x) for x in HLL_LC_TABLE)
    finalize = f"""
      SELECT src,
             CAST(n_rows AS BIGINT) AS n_rows,
             CAST({HLL_M} - n_present AS BIGINT) AS v_zero,
             CAST(present_sum
                  + ({HLL_M} - n_present) * CAST({1 << HLL_RHO_MAX} AS BIGINT)
                  AS BIGINT) AS reg_sum
      FROM (
        SELECT src, SUM(n_in_bucket) AS n_rows, COUNT(*) AS n_present,
               SUM(CAST(1 AS BIGINT) << ({HLL_RHO_MAX} - m_j)) AS present_sum
        FROM {{src_regs}} GROUP BY src)"""
    return f"""
    WITH h AS (
      SELECT CAST(grp0 AS VARCHAR) AS grp,
             hv // {HLL_W_MOD} AS bucket, hv % {HLL_W_MOD} AS w
      FROM (
        SELECT {group_expr} AS grp0,
               CAST(('0x' || substr(md5(CAST({key_expr} AS VARCHAR)), 1, 8))
                    AS BIGINT) AS hv
        FROM {table}
        WHERE {key_expr} IS NOT NULL AND ({group_expr}) IS NOT NULL)),
    regs AS (
      SELECT grp, bucket,
             MAX(CASE WHEN w = 0 THEN {HLL_RHO_MAX}
                      ELSE {HLL_RHO_MAX} - length(bin(w)) END) AS m_j,
             COUNT(*) AS n_in_bucket
      FROM h GROUP BY grp, bucket),
    mregs AS (
      SELECT '{merged_label}' AS grp, bucket, MAX(m_j) AS m_j,
             SUM(n_in_bucket) AS n_in_bucket
      FROM regs GROUP BY bucket),
    fin AS (
      {finalize.format(src_regs="(SELECT grp AS src, m_j, n_in_bucket FROM regs)")}
      UNION ALL
      {finalize.format(src_regs="(SELECT grp AS src, m_j, n_in_bucket FROM mregs)")})
    SELECT src, n_rows, v_zero, reg_sum,
           CASE WHEN v_zero >= {HLL_M} THEN CAST(0 AS BIGINT)
                WHEN v_zero > 0
                     AND CAST({HLL_NUMER} AS BIGINT) // reg_sum // 1000000
                         <= {HLL_LC_CUT}
                  THEN CAST([{lc_list}][CAST(v_zero AS INTEGER)] AS BIGINT)
                ELSE CAST({HLL_NUMER} AS BIGINT) // reg_sum // 1000000
           END AS hll_est
    FROM fin
    """


def hll_oracle_sql(table: str, key_expr: str, label: str) -> str:
    """DuckDB twin of hll_sketch — generated from the same constants
    (including the precomputed linear-counting table) so the two can
    never desynchronize."""
    lc_list = ", ".join(str(x) for x in HLL_LC_TABLE)
    return f"""
    SELECT src, n_rows, v_zero, reg_sum,
           CASE WHEN v_zero >= {HLL_M} THEN CAST(0 AS BIGINT)
                WHEN v_zero > 0
                     AND CAST({HLL_NUMER} AS BIGINT) // reg_sum // 1000000
                         <= {HLL_LC_CUT}
                  THEN CAST([{lc_list}][CAST(v_zero AS INTEGER)] AS BIGINT)
                ELSE CAST({HLL_NUMER} AS BIGINT) // reg_sum // 1000000
           END AS hll_est
    FROM (
      SELECT '{label}' AS src,
             (SELECT CAST(COUNT({key_expr}) AS BIGINT) FROM {table})
               AS n_rows,
             CAST({HLL_M} - COUNT(*) AS BIGINT) AS v_zero,
             CAST(COALESCE(SUM(CAST(1 AS BIGINT) << ({HLL_RHO_MAX} - m_j)), 0)
                  + ({HLL_M} - COUNT(*)) * CAST({1 << HLL_RHO_MAX} AS BIGINT)
                  AS BIGINT) AS reg_sum
      FROM (
        SELECT bucket,
               MAX(CASE WHEN w = 0 THEN {HLL_RHO_MAX}
                        ELSE {HLL_RHO_MAX} - length(bin(w)) END) AS m_j
        FROM (
          SELECT hv // {HLL_W_MOD} AS bucket, hv % {HLL_W_MOD} AS w
          FROM (
            SELECT CAST(('0x' || substr(md5(CAST({key_expr} AS VARCHAR)), 1, 8))
                        AS BIGINT) AS hv
            FROM {table} WHERE {key_expr} IS NOT NULL)
        ) GROUP BY bucket
      )
    )
    """


def cms_topk(df: DataFrame, key_col: str, k: int = 20) -> DataFrame:
    """Count-Min heavy hitters: (key, est_count) for the top-``k`` keys by
    CMS-estimated frequency (ties broken by key ascending).

    Shape: explode each row into CMS_D (row, bucket) updates, ONE
    groupBy((i, bucket)) with map-side combine -> the d·w counter table;
    the distinct-key probe joins that table broadcast, takes min over the
    d rows, and top-k's the result. The counter table is O(d·w) rows
    regardless of input size — the whole reduction is one shuffle.
    """
    rows = F.array(*[F.lit(i) for i in range(CMS_D)])
    key_s = F.col(key_col).cast("string")
    bucketed = df.select(
        key_s.alias("key"), F.explode(rows).alias("i")
    ).select(
        "key",
        "i",
        (
            _h32(F.concat(F.col("key"), F.lit("#"), F.col("i").cast("string")))
            % F.lit(CMS_W)
        ).alias("bucket"),
    )
    # ONE scan: pre-aggregate per (key, i, bucket) — map-side combine
    # compresses this to (distinct keys per partition)·d rows before the
    # only raw-data shuffle — then MATERIALIZE the keyed partials
    # (distinct-keys·d rows) so both downstream consumers (the d·w
    # counter table and the probe set) read the aggregate instead of
    # each re-running the scan+explode+md5 lineage.
    kc = materialize(
        bucketed.groupBy("key", "i", "bucket").agg(
            F.count(F.lit(1)).alias("ck")
        )
    )
    counters = kc.groupBy("i", "bucket").agg(F.sum("ck").alias("cnt"))
    est = (
        kc.select("key", "i", "bucket")
        .join(F.broadcast(counters), ["i", "bucket"])
        .groupBy("key")
        .agg(F.min("cnt").alias("est_count"))
    )
    return est.orderBy(F.col("est_count").desc(), F.col("key").asc()).limit(k)


def bottomk_quantiles(
    df: DataFrame,
    key_col: str,
    val_col: str,
    k: int = 1024,
    qs: list[tuple[str, int, int]] = (
        ("p10", 1, 10),
        ("p25", 1, 4),
        ("p50", 1, 2),
        ("p75", 3, 4),
        ("p90", 9, 10),
    ),
) -> DataFrame:
    """(q, est_value): quantile estimates from a bottom-k (KMV-style)
    md5-rank sample — the third mergeable sketch beside HLL and CMS.

    The sample is the ``k`` rows whose (md5(key), key) sorts first: a
    uniform, ORDER-INDEPENDENT, mergeable sample (union two sketches,
    re-take bottom-k) with no RNG state — the same md5-rank idiom as the
    corpus-pipeline samplers. orderBy().limit(k) compiles to
    TakeOrderedAndProject (map-side top-k + driver merge, no global sort
    shuffle). The estimate is element selection, not interpolation: the
    sample folds through a scalar sort_array(collect_list(...)) aggregate
    (k rows -> one array — the bounded-global-scan shape the plan-audit
    gate allows) and each quantile picks index (n-1)*num/den + 1 with
    pure integer arithmetic, so the emitted value is a RAW input double —
    bit-exact in any engine. Rank error is O(1/sqrt(k)) ~ 3% at k=1024
    (bounded in tests/test_sketches.py).
    """
    # _v as the final sort key: with a NON-unique key_col, (_h, _k) ties
    # would make the limit(k) cutoff partition-order-dependent — the
    # value column totalizes the order so both engines pick identical
    # survivors (unique keys: unchanged).
    sample = df.select(
        F.col(val_col).cast("double").alias("_v"),
        F.col(key_col).alias("_k"),
        F.md5(F.col(key_col).cast("string")).alias("_h"),
    ).orderBy("_h", "_k", "_v").limit(k)
    agg = sample.agg(
        F.sort_array(F.collect_list(F.struct("_v", "_k"))).alias("arr"),
        F.count(F.lit(1)).alias("n"),
    )
    picks = F.array(
        *[
            F.struct(
                F.lit(label).alias("q"),
                F.element_at(
                    F.col("arr"),
                    (
                        F.expr(f"CAST((n - 1) * {num} AS BIGINT) DIV {den}")
                        + F.lit(1)
                    ).cast("int"),
                )["_v"].alias("est_value"),
            )
            for label, num, den in qs
        ]
    )
    return (
        # n > 0 guard BEFORE the picks evaluate: on empty input the
        # oracle returns 0 rows, and element_at(arr, 1) on an empty
        # array must never run (ANSI mode makes it an error).
        agg.filter(F.col("n") > 0)
        .select(F.explode(picks).alias("p"))
        .select(F.col("p.q").alias("q"), F.col("p.est_value").alias("est_value"))
        .orderBy("q")
    )


def bottomk_oracle_sql(
    table: str,
    key_expr: str,
    val_expr: str,
    k: int = 1024,
    qs: list[tuple[str, int, int]] = (
        ("p10", 1, 10),
        ("p25", 1, 4),
        ("p50", 1, 2),
        ("p75", 3, 4),
        ("p90", 9, 10),
    ),
) -> str:
    """DuckDB twin of bottomk_quantiles: same md5-rank sample, same
    integer index arithmetic, same raw-double emission."""
    spec = ", ".join(f"('{label}', {num}, {den})" for label, num, den in qs)
    return f"""
    WITH s AS (
      SELECT CAST({val_expr} AS DOUBLE) AS v, {key_expr} AS k
      FROM {table}
      ORDER BY md5(CAST({key_expr} AS VARCHAR)), {key_expr},
               CAST({val_expr} AS DOUBLE)
      LIMIT {k}),
    r AS (
      SELECT v, row_number() OVER (ORDER BY v, k) AS rn,
             COUNT(*) OVER () AS n
      FROM s),
    spec(q, num, den) AS (VALUES {spec})
    SELECT spec.q, r.v AS est_value
    FROM r JOIN spec ON r.rn = (r.n - 1) * spec.num // spec.den + 1
    ORDER BY spec.q
    """


def cms_oracle_sql(table: str, key_expr: str, k: int = 20) -> str:
    """DuckDB twin of cms_topk — same md5 buckets, same min-over-rows."""
    return f"""
    WITH b AS (
      SELECT CAST({key_expr} AS VARCHAR) AS key, i.i,
             CAST(('0x' || substr(md5(CAST({key_expr} AS VARCHAR)
                                       || '#' || CAST(i.i AS VARCHAR)), 1, 8))
                  AS BIGINT) % {CMS_W} AS bucket
      FROM {table}, (SELECT unnest(range({CMS_D})) AS i) i),
    counters AS (
      SELECT i, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM b GROUP BY i, bucket),
    probes AS (SELECT DISTINCT key, i, bucket FROM b)
    SELECT p.key, MIN(c.cnt) AS est_count
    FROM probes p JOIN counters c USING (i, bucket)
    GROUP BY p.key
    ORDER BY est_count DESC, key ASC
    LIMIT {k}
    """


# --- KMV (bottom-k) set similarity -----------------------------------
KMV_K = 64


def kmv_jaccard(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = KMV_K,
) -> DataFrame:
    """(group_a, group_b, n_common, est_jaccard): estimated Jaccard
    similarity between every pair of groups' key SETS, from bottom-k
    (KMV) sketches — the sketch family's set-operation member (HLL
    answers |A|, CMS answers freq(x); KMV answers |A∩B|/|A∪B|).

    Estimator (Beyer et al. 2007, "On synopses for distinct-value
    estimation"): per group keep the k keys whose (md5(key), key) ranks
    lowest; for a pair, take the bottom-k of the UNION of the two
    sketches and count members present in BOTH sketches —
    J^ = count / |union bottom-k| (= min(k, |A∪B|); dividing by the
    constant k would underestimate whenever the union is smaller than
    k). All decisions are md5-rank + integer arithmetic; the final
    int/int division is the same IEEE double in any engine. Both
    engines therefore emit identical
    bits and the driver hash-checks an approximate set-similarity sketch
    end to end (same evidence class as RP-LSH / deterministic HLL).

    Scale posture: one distinct shuffle on (group, key), one window
    top-k per group (rank cutoff, map-side partial via
    TakeOrderedAndProject-like pruning is not available for windows, but
    the post-distinct input is already grouped); everything after runs
    on k-row sketches — pair enumeration is over the GROUP dimension
    (assumed small: event types, sources, languages), never over rows.
    Sketches are mergeable: union two groups' sketch rows and re-take
    bottom-k, the exact operation the pair stage performs.

    EAGER: executes at call time and returns the (bounded: ≤ 32,640
    pair rows by the 256-group contract) result as a local DataFrame —
    the sketch cache must not outlive the call (it is unpersisted in a
    ``finally``), so the job runs here even if the caller never
    consumes the result, and EXPLAIN on the returned frame shows a
    LocalTableScan, not the sketch plan (audit the plan inside this
    function if needed).
    """
    from pyspark.sql import Window

    s = (
        df.select(F.col(group_col).alias("g"),
                  F.col(key_col).cast("string").alias("key"))
        # NULL groups would TypeError the driver-side sort below and
        # NULL keys rank on opposite ends in the two engines — exclude
        # both, mirrored in the oracle.
        .filter(F.col("g").isNotNull() & F.col("key").isNotNull())
        .distinct()
        .withColumn("h", F.md5("key"))
    )
    w = Window.partitionBy("g").orderBy("h", "key")
    sk = (
        s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("g", "key", "h")
    ).cache()
    try:
        # Pair enumeration: the group dimension is small BY CONTRACT (event
        # types, sources, languages), so collect it (bounded, guarded) and
        # broadcast literal pairs — an equi-join shape. The alternative — a
        # g_a < g_b theta self-join — compiles to BroadcastNestedLoopJoin,
        # which the plan-audit gate rightly flags as a pair-blowup risk.
        gs = sorted(r.g for r in sk.select("g").distinct().collect())
        if len(gs) > 256:
            raise ValueError(
                f"kmv_jaccard: {len(gs)} groups — pairwise enumeration is "
                "quadratic in the group dimension; this operator is for "
                "small group dimensions (<= 256)"
            )
        from pyspark.sql import types as T

        g_type = sk.schema["g"].dataType
        pairs = local_frame(
            df.sparkSession,
            [(a, b) for i, a in enumerate(gs) for b in gs[i + 1:]],
            # explicit schema: with < 2 groups the pair list is empty and
            # schema inference would raise instead of returning 0 rows
            T.StructType(
                [
                    T.StructField("group_a", g_type),
                    T.StructField("group_b", g_type),
                ]
            ),
        )
        # Sketch rows of both sides of each pair, deduped per key with a
        # both-sides flag; the union's bottom-k is a window over <= 2k rows.
        side_a = pairs.join(sk, F.col("group_a") == F.col("g")).select(
            "group_a", "group_b", "key", "h", F.lit(1).alias("in_a"),
            F.lit(0).alias("in_b"))
        side_b = pairs.join(sk, F.col("group_b") == F.col("g")).select(
            "group_a", "group_b", "key", "h", F.lit(0).alias("in_a"),
            F.lit(1).alias("in_b"))
        merged = (
            side_a.unionByName(side_b)
            .groupBy("group_a", "group_b", "key", "h")
            .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
        )
        wu = Window.partitionBy("group_a", "group_b").orderBy("h", "key")
        out = (
            merged.withColumn("rn", F.row_number().over(wu))
            .filter(F.col("rn") <= k)
            .groupBy("group_a", "group_b")
            .agg(
                F.sum(F.col("in_a") * F.col("in_b")).alias("n_common"),
                # KMV estimator divides by |bottom-k OF THE UNION| =
                # min(k, |A∪B|) — the post-filter row count — not by the
                # constant k: when the union is smaller than k, a constant
                # denominator underestimates (two identical 10-key sets
                # would read 10/64 instead of 1.0). int/int double division
                # is IEEE-identical in both engines.
                (
                    F.sum(F.col("in_a") * F.col("in_b"))
                    / F.count(F.lit(1)).cast("double")
                ).alias("est_jaccard"),
            )
        )
        # Materialize before unpersisting sk (bounded by the 256-group
        # contract: <= 32,640 pair rows) so the cached sketches are
        # released at function exit instead of leaking for the session.
        return local_frame(df.sparkSession, out.collect(), out.schema)
    finally:
        sk.unpersist()


# --- Bloom filter (membership) ----------------------------------------
BLOOM_J = 3  # hash probes per key
# 63-bit words: bit positions shift by 0..62 only, because DuckDB's
# BIGINT << raises on a shift of 63 (sign-bit overflow) while Spark
# wraps — 63 is the largest width both engines evaluate identically.
BLOOM_WORD_BITS = 63
BLOOM_MIN_WORDS = 16


def _bloom_words(n_members: int) -> int:
    """Filter size for ``n_members`` keys: the smallest power-of-two word
    count giving >= 3·J·n bits (fill ~ 1/3, fpr ~ (1-e^-1/3)^3 ~ 2.3%)
    — the classic m ~ 1.44·J·n/ln2 sizing rounded to a pow2. Integer
    arithmetic only (bit_length = the length(bin(x-1)) idiom) so the
    DuckDB oracle reproduces the same size from the same count."""
    target_words = (3 * BLOOM_J * max(n_members, 1) + BLOOM_WORD_BITS - 1) // BLOOM_WORD_BITS
    return max(BLOOM_MIN_WORDS, 1 << (target_words - 1).bit_length())


def _bloom_positions(df: DataFrame, key_col: str, m_bits: int) -> DataFrame:
    """(key, word_idx, mask): the BLOOM_J md5-derived bit positions of
    each distinct key, as word index + single-bit mask."""
    probes = F.array(*[F.lit(i) for i in range(BLOOM_J)])
    return (
        # NULL keys carry no membership information and the oracle's
        # COUNT(DISTINCT)/WHERE clauses exclude them — drop them here so
        # the two engines see the same key universe.
        df.select(F.col(key_col).cast("string").alias("key"))
        .filter(F.col("key").isNotNull())
        .distinct()
        .select("key", F.explode(probes).alias("i"))
        .select(
            "key",
            (
                _h32(F.concat(F.col("key"), F.lit("#"), F.col("i").cast("string")))
                % F.lit(m_bits)
            ).alias("pos"),
        )
        .select(
            "key",
            F.expr(f"pos DIV {BLOOM_WORD_BITS}").alias("word_idx"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {BLOOM_WORD_BITS} AS INT))"
            ).alias("mask"),
        )
    )


def bloom_build(df: DataFrame, key_col: str, words: int) -> DataFrame:
    """(word_idx, bits): the Bloom filter of ``key_col`` as a bitmap of
    ``words`` 63-bit int64 words — at most ``words`` rows regardless of
    input size (one map-side-combined bit_or shuffle), the mergeable
    membership sketch beside HLL/CMS/bottom-k/KMV. Merging two filters
    is bit_or over word_idx (property-tested)."""
    return (
        _bloom_positions(df, key_col, words * BLOOM_WORD_BITS)
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_prejoin_stats(
    member_df: DataFrame,
    member_key: str,
    probe_df: DataFrame,
    probe_key: str,
    label: str,
) -> DataFrame:
    """One-row (src, n_members, n_words, n_bits_set, n_probe_keys,
    n_pass, n_true, n_false_pos): the full lifecycle of a Bloom-filter
    join prune — build over the SMALL side's keys, probe the big side's
    distinct keys broadcast, and audit the pass set against the exact
    semi-join. This is the runtime-filter pattern Spark's own
    bloomFilter runtime rewrite applies (spark.sql.optimizer.runtime.
    bloomFilter.enabled), made explicit and DETERMINISTIC: md5-derived
    positions, integer-only sizing from the member count, 63-bit words —
    so build, probe, and the false-positive count are all DuckDB
    hash-checked (no-false-negative is structural: every member's bits
    are set by construction; property-tested anyway).

    Scale posture: the filter is <= n_words rows (pow2-sized from the
    member count, ~6 bits/member) and broadcasts; probing costs one
    distinct on the big side's key + J broadcast lookups per key — no
    shuffle of the big side beyond its key distinct, which is the same
    exchange the exact semi-join would pay, while the filter itself can
    be pushed below it at 100 TB (probe pass-rate here measures exactly
    what such a pushdown would keep)."""
    # Materialize once: the member distinct feeds the count action, the
    # filter build, AND the audit join; the filter feeds the probe join
    # AND the bits_set report — without this each consumer re-runs the
    # member-side scan (small by contract, but 5 scans is still 5).
    members_keys = materialize(
        member_df.select(F.col(member_key).cast("string").alias("key"))
        .filter(F.col("key").isNotNull())
        .distinct()
    )
    n_members = members_keys.count()
    words = _bloom_words(n_members)
    filt = materialize(bloom_build(members_keys, "key", words))
    probed = (
        _bloom_positions(probe_df, probe_key, words * BLOOM_WORD_BITS)
        .join(F.broadcast(filt), "word_idx", "left")
        .select(
            "key",
            (
                F.coalesce(F.col("bits"), F.lit(0).cast("long"))
                .bitwiseAND(F.col("mask"))
                != 0
            ).cast("int").alias("hit"),
        )
        .groupBy("key")
        .agg(F.min("hit").alias("pass"))
    )
    audited = probed.join(
        F.broadcast(members_keys.withColumn("is_member", F.lit(1))),
        "key",
        "left",
    ).select(
        "pass", F.coalesce(F.col("is_member"), F.lit(0)).alias("is_member")
    )
    bits_set = filt.agg(
        F.sum(F.bit_count("bits")).alias("n_bits_set")
    )
    # Zero non-null probe keys: SUM over zero rows is NULL in both
    # engines, but the oracle's old GROUP BY form emitted zero rows while
    # the global agg here emits one — coalesce to 0 and use a scalar-
    # subquery oracle so both sides agree on a single zeroed audit row
    # (ADVICE r06 #1).
    return (
        audited.agg(
            F.count(F.lit(1)).cast("long").alias("n_probe_keys"),
            F.coalesce(F.sum("pass"), F.lit(0)).cast("long").alias("n_pass"),
            F.coalesce(F.sum("is_member"), F.lit(0)).cast("long").alias("n_true"),
            F.coalesce(
                F.sum(F.col("pass") * (F.lit(1) - F.col("is_member"))),
                F.lit(0),
            ).cast("long").alias("n_false_pos"),
        )
        .crossJoin(F.broadcast(bits_set))
        .select(
            F.lit(label).alias("src"),
            F.lit(n_members).cast("long").alias("n_members"),
            F.lit(words).cast("long").alias("n_words"),
            F.col("n_bits_set").cast("long").alias("n_bits_set"),
            "n_probe_keys",
            "n_pass",
            "n_true",
            "n_false_pos",
        )
    )


def bloom_prejoin_oracle_sql(
    member_table: str,
    member_key: str,
    probe_table: str,
    probe_key: str,
    label: str,
) -> str:
    """DuckDB twin of bloom_prejoin_stats — same md5 positions, same
    integer pow2 sizing (length(bin(x-1)) bit-length idiom), same 63-bit
    words and bit_or/bit_count arithmetic."""
    return f"""
    WITH n AS (
      SELECT COUNT(DISTINCT CAST({member_key} AS VARCHAR)) AS n_members
      FROM {member_table}),
    sz AS (
      SELECT n_members,
             GREATEST({BLOOM_MIN_WORDS},
               CASE WHEN tw <= 1 THEN 1
                    ELSE CAST(1 AS BIGINT) << length(bin(tw - 1)) END) AS words
      FROM (SELECT n_members,
                   (3 * {BLOOM_J} * GREATEST(n_members, 1)
                    + {BLOOM_WORD_BITS} - 1) // {BLOOM_WORD_BITS} AS tw
            FROM n)),
    mpos AS (
      SELECT key, pos // {BLOOM_WORD_BITS} AS word_idx,
             CAST(1 AS BIGINT) << CAST(pos % {BLOOM_WORD_BITS} AS INTEGER) AS mask
      FROM (
        SELECT key,
               CAST(('0x' || substr(md5(key || '#' || CAST(i.i AS VARCHAR)),
                                    1, 8)) AS BIGINT)
                 % (sz.words * {BLOOM_WORD_BITS}) AS pos
        FROM (SELECT DISTINCT CAST({member_key} AS VARCHAR) AS key
              FROM {member_table} WHERE {member_key} IS NOT NULL),
             (SELECT unnest(range({BLOOM_J})) AS i) i, sz)),
    filt AS (
      SELECT word_idx, bit_or(mask) AS bits FROM mpos GROUP BY word_idx),
    ppos AS (
      SELECT key, pos // {BLOOM_WORD_BITS} AS word_idx,
             CAST(1 AS BIGINT) << CAST(pos % {BLOOM_WORD_BITS} AS INTEGER) AS mask
      FROM (
        SELECT key,
               CAST(('0x' || substr(md5(key || '#' || CAST(i.i AS VARCHAR)),
                                    1, 8)) AS BIGINT)
                 % (sz.words * {BLOOM_WORD_BITS}) AS pos
        FROM (SELECT DISTINCT CAST({probe_key} AS VARCHAR) AS key
              FROM {probe_table} WHERE {probe_key} IS NOT NULL),
             (SELECT unnest(range({BLOOM_J})) AS i) i, sz)),
    probed AS (
      SELECT p.key,
             MIN(CASE WHEN (COALESCE(f.bits, 0) & p.mask) != 0
                      THEN 1 ELSE 0 END) AS pass
      FROM ppos p LEFT JOIN filt f USING (word_idx)
      GROUP BY p.key),
    audited AS (
      SELECT probed.pass,
             CASE WHEN m.key IS NULL THEN 0 ELSE 1 END AS is_member
      FROM probed LEFT JOIN
           (SELECT DISTINCT CAST({member_key} AS VARCHAR) AS key
            FROM {member_table}) m ON probed.key = m.key)
    SELECT '{label}' AS src,
           CAST(sz.n_members AS BIGINT) AS n_members,
           CAST(sz.words AS BIGINT) AS n_words,
           (SELECT CAST(SUM(bit_count(bits)) AS BIGINT) FROM filt)
             AS n_bits_set,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM audited) AS n_probe_keys,
           (SELECT CAST(COALESCE(SUM(pass), 0) AS BIGINT) FROM audited)
             AS n_pass,
           (SELECT CAST(COALESCE(SUM(is_member), 0) AS BIGINT) FROM audited)
             AS n_true,
           (SELECT CAST(COALESCE(SUM(pass * (1 - is_member)), 0) AS BIGINT)
            FROM audited) AS n_false_pos
    FROM sz
    """


def kmv_jaccard_oracle_sql(
    table: str, group_expr: str, key_expr: str, k: int = KMV_K
) -> str:
    """DuckDB twin of kmv_jaccard — same md5-rank sketches, same
    union-bottom-k intersection count, same exact count/k division."""
    return f"""
    WITH s AS (
      SELECT DISTINCT {group_expr} AS g, CAST({key_expr} AS VARCHAR) AS key
      FROM {table}
      WHERE ({group_expr}) IS NOT NULL AND ({key_expr}) IS NOT NULL),
    sk AS (
      SELECT g, key, md5(key) AS h FROM (
        SELECT g, key,
               row_number() OVER (PARTITION BY g
                                  ORDER BY md5(key), key) AS rn
        FROM s) WHERE rn <= {k}),
    pairs AS (
      SELECT a.g AS group_a, b.g AS group_b
      FROM (SELECT DISTINCT g FROM sk) a
      JOIN (SELECT DISTINCT g FROM sk) b ON a.g < b.g),
    merged AS (
      SELECT group_a, group_b, key, h,
             MAX(in_a) AS in_a, MAX(in_b) AS in_b
      FROM (
        SELECT p.group_a, p.group_b, sk.key, sk.h, 1 AS in_a, 0 AS in_b
        FROM pairs p JOIN sk ON sk.g = p.group_a
        UNION ALL
        SELECT p.group_a, p.group_b, sk.key, sk.h, 0 AS in_a, 1 AS in_b
        FROM pairs p JOIN sk ON sk.g = p.group_b)
      GROUP BY group_a, group_b, key, h),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY group_a, group_b
                                   ORDER BY h, key) AS rn
      FROM merged)
    SELECT group_a, group_b,
           CAST(SUM(in_a * in_b) AS BIGINT) AS n_common,
           CAST(SUM(in_a * in_b) AS BIGINT)
             / CAST(COUNT(*) AS DOUBLE) AS est_jaccard
    FROM ranked WHERE rn <= {k}
    GROUP BY group_a, group_b
    """


def kmv_set_cardinalities(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = KMV_K,
) -> DataFrame:
    """(group_a, group_b, n_common, m_union, est_union, est_inter):
    Beyer et al. 2007 distinct-value estimation extended to pairwise
    set algebra — |A∪B| from the k-th smallest hash of the union's
    bottom-k ((k−1)·2⁶⁰ / h_(k); exact when the union sketch isn't
    full), |A∩B| = Ĵ · |A∪B|^. Every input to the float arithmetic is
    an integer (md5-prefix 60-bit ranks, counts), the divisions and
    product run in the same order in both engines, and the outputs are
    FLOORed to int64 (CAST double→BIGINT truncates in Spark but rounds
    in DuckDB — floor() first makes them agree), so the estimates are
    hash-exact. Same shape and group-dimension contract (≤256 groups)
    as kmv_jaccard; the sketch-building lines mirror it verbatim so
    the two queries can share driver-side evidence semantics.

    EAGER: same call-time-execution semantics as kmv_jaccard (bounded
    collect, sketch cache released in ``finally``; the returned frame
    is a LocalTableScan)."""
    from pyspark.sql import Window
    from pyspark.sql import types as T

    s = (
        df.select(F.col(group_col).alias("g"),
                  F.col(key_col).cast("string").alias("key"))
        # NULL groups would TypeError the driver-side sort below and
        # NULL keys hash to md5(NULL)=NULL, which the two engines rank
        # on opposite ends (Spark NULLS FIRST vs DuckDB NULLS LAST) —
        # exclude both, mirrored in the oracle (bloom_prejoin_stats'
        # discipline).
        .filter(F.col("g").isNotNull() & F.col("key").isNotNull())
        .distinct()
        .withColumn("h", F.md5("key"))
    )
    w = Window.partitionBy("g").orderBy("h", "key")
    sk = (
        s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("g", "key", "h")
    ).cache()
    try:
        gs = sorted(r.g for r in sk.select("g").distinct().collect())
        if len(gs) > 256:
            raise ValueError(
                f"kmv_set_cardinalities: {len(gs)} groups — pairwise "
                "enumeration is quadratic in the group dimension (<= 256)"
            )
        g_type = sk.schema["g"].dataType
        pairs = local_frame(
            df.sparkSession,
            [(a, b) for i, a in enumerate(gs) for b in gs[i + 1:]],
            T.StructType(
                [
                    T.StructField("group_a", g_type),
                    T.StructField("group_b", g_type),
                ]
            ),
        )
        side_a = pairs.join(sk, F.col("group_a") == F.col("g")).select(
            "group_a", "group_b", "key", "h", F.lit(1).alias("in_a"),
            F.lit(0).alias("in_b"))
        side_b = pairs.join(sk, F.col("group_b") == F.col("g")).select(
            "group_a", "group_b", "key", "h", F.lit(0).alias("in_a"),
            F.lit(1).alias("in_b"))
        merged = (
            side_a.unionByName(side_b)
            .groupBy("group_a", "group_b", "key", "h")
            .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
        )
        wu = Window.partitionBy("group_a", "group_b").orderBy("h", "key")
        agg = (
            merged.withColumn("rn", F.row_number().over(wu))
            .filter(F.col("rn") <= k)
            .groupBy("group_a", "group_b")
            .agg(
                F.sum(F.col("in_a") * F.col("in_b")).alias("n_common"),
                F.count(F.lit(1)).alias("m_union"),
                # 60-bit numeric rank of the LARGEST retained hash = h_(m)
                F.max(
                    F.conv(F.substring("h", 1, 15), 16, 10).cast("long")
                ).alias("h_m"),
            )
        )
        est_union = F.when(
            F.col("m_union") < k, F.col("m_union").cast("double")
        ).otherwise(
            F.lit(float(k - 1)) * F.lit(float(1 << 60)) / F.col("h_m").cast("double")
        )
        out = agg.select(
            "group_a",
            "group_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("m_union").cast("long").alias("m_union"),
            F.floor(est_union).cast("long").alias("est_union"),
            F.floor(
                (F.col("n_common").cast("double") / F.col("m_union").cast("double"))
                * est_union
            ).cast("long").alias("est_inter"),
        )
        # Materialize before unpersisting sk so the cached sketches are
        # released at function exit (not leaked for the session). The
        # result is bounded by the 256-group contract (<= 32,640 pair
        # rows), so the driver round-trip is a constant-size local
        # relation, not a scale hazard.
        return local_frame(df.sparkSession, out.collect(), out.schema)
    finally:
        sk.unpersist()


def kmv_set_cardinalities_oracle_sql(
    table: str, group_expr: str, key_expr: str, k: int = KMV_K
) -> str:
    """DuckDB twin of kmv_set_cardinalities — identical sketches, 60-bit
    ranks, estimator order, and floor-to-int64 finishes."""
    return f"""
    WITH s AS (
      SELECT DISTINCT {group_expr} AS g, CAST({key_expr} AS VARCHAR) AS key
      FROM {table}
      WHERE ({group_expr}) IS NOT NULL AND ({key_expr}) IS NOT NULL),
    sk AS (
      SELECT g, key, md5(key) AS h FROM (
        SELECT g, key,
               row_number() OVER (PARTITION BY g
                                  ORDER BY md5(key), key) AS rn
        FROM s) WHERE rn <= {k}),
    pairs AS (
      SELECT a.g AS group_a, b.g AS group_b
      FROM (SELECT DISTINCT g FROM sk) a
      JOIN (SELECT DISTINCT g FROM sk) b ON a.g < b.g),
    merged AS (
      SELECT group_a, group_b, key, h,
             MAX(in_a) AS in_a, MAX(in_b) AS in_b
      FROM (
        SELECT p.group_a, p.group_b, sk.key, sk.h, 1 AS in_a, 0 AS in_b
        FROM pairs p JOIN sk ON sk.g = p.group_a
        UNION ALL
        SELECT p.group_a, p.group_b, sk.key, sk.h, 0 AS in_a, 1 AS in_b
        FROM pairs p JOIN sk ON sk.g = p.group_b)
      GROUP BY group_a, group_b, key, h),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY group_a, group_b
                                   ORDER BY h, key) AS rn
      FROM merged),
    agg AS (
      SELECT group_a, group_b,
             CAST(SUM(in_a * in_b) AS BIGINT) AS n_common,
             CAST(COUNT(*) AS BIGINT) AS m_union,
             MAX(CAST(('0x' || substr(h, 1, 15)) AS BIGINT)) AS h_m
      FROM ranked WHERE rn <= {k}
      GROUP BY group_a, group_b),
    est AS (
      SELECT *,
             CASE WHEN m_union < {k} THEN CAST(m_union AS DOUBLE)
                  ELSE CAST({float(k - 1)} AS DOUBLE)
                       * CAST({float(1 << 60)} AS DOUBLE)
                       / CAST(h_m AS DOUBLE)
             END AS est_u
      FROM agg)
    SELECT group_a, group_b, n_common, m_union,
           CAST(FLOOR(est_u) AS BIGINT) AS est_union,
           CAST(FLOOR((CAST(n_common AS DOUBLE) / CAST(m_union AS DOUBLE))
                      * est_u) AS BIGINT) AS est_inter
    FROM est
    """
