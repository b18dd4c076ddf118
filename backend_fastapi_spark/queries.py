"""Query registry: every operator exposed as (spark_fn, oracle_sql) pairs.

This is the engine's public query surface, mirroring SURVEY §2's operator
inventory over the driver's testdata tables. Each entry is:

    name -> QuerySpec(fn: (spark, sf_dir) -> DataFrame, oracle: str | None)

Determinism rules (so the DuckDB oracle hash-matches bit-for-bit):
- Sums/averages of doubles go through DECIMAL (exact, order-independent),
  then CAST back to DOUBLE. Both engines round double->decimal half-away-
  from-zero, and decimal->double is exact for our magnitudes.
- Every top-k has a total tie-break order (unique key last).
- No dropDuplicates with arbitrary survivor choice — group-min instead.
"""

from __future__ import annotations

import os as _os_mod
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from backend_fastapi_spark.plans.user_context import user_context
from backend_fastapi_spark.operators import relational as R
from backend_fastapi_spark.operators import vector as V
from backend_fastapi_spark.operators import text as TX
from backend_fastapi_spark.operators import dedup as D
from backend_fastapi_spark.operators import sketches as SK
from backend_fastapi_spark.operators import pq as PQ
from backend_fastapi_spark.operators import semdedup as SD
from backend_fastapi_spark.operators import pipeline as PL
from backend_fastapi_spark.operators import retrieval as RT
from backend_fastapi_spark.operators.util import local_frame
from backend_fastapi_spark.sources.parquet import footer_row_count, read_table


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: Optional[str] = None):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn, oracle)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


# Root for the persisted-index audit queries (index_sink_audit,
# ivf_append_audit, ivf_sq8_index_audit, bm25_search_persisted): the
# Spark side writes the layout here, the DuckDB oracle reads the SAME
# files. Defined before the first registration that inlines it into its
# oracle SQL.
_INDEX_ROOT = _os_mod.path.join(
    _os_mod.path.dirname(_os_mod.path.dirname(_os_mod.path.abspath(__file__))),
    ".indexdata",
)

# Process-local build-once cache for the persisted-index queries
# (VERDICT r11 wrong #3): a repeat execution IN THE SAME PROCESS (the
# bench's warmup + min-of-N loop, a test calling the query twice) reuses
# the index the first call wrote — same inputs, value-identical files —
# so timed runs measure SEARCH, not a from-scratch index rebuild
# (hybrid_search_persisted alone rewrote two indexes per execution). A
# fresh process (each driver sweep, each oracle run) always rebuilds.
# Keyed by the RESOLVED index directories (ADVICE r12 low): the on-disk
# dir is keyed by basename(sf_dir), so two distinct sf_dirs with the
# same basename collide on disk — the cache records which abs sf_dir
# last wrote each dir and rebuilds on owner change; it also verifies the
# dirs still exist, so an .indexdata wipe mid-process triggers a rebuild
# instead of a read of nothing.
_PERSISTED_BUILT: dict = {}  # (name, index_dir) -> abs sf_dir that built it


def _build_once(name: str, sf_dir: str, build, index_dirs=()) -> None:
    abs_sf = _os_mod.path.abspath(sf_dir)
    # no index_dirs: degenerate key on sf_dir itself (no on-disk check)
    dirs = [_os_mod.path.abspath(d) for d in index_dirs] or [abs_sf]
    keys = [(name, d) for d in dirs]
    hit = all(
        _PERSISTED_BUILT.get(k) == abs_sf
        and (not index_dirs or _os_mod.path.isdir(k[1]))
        for k in keys
    )
    if not hit:
        build()
        for k in keys:
            _PERSISTED_BUILT[k] = abs_sf


def dsum(c, scale: int = 2):
    """Order-independent SUM of a double column: exact decimal accumulate,
    then exact cast back to double."""
    return F.sum(F.col(c).cast(f"decimal(30,{scale})")).cast("double")


def davg(c, scale: int = 6):
    """Order-independent AVG: exact decimal sum / count, divided as doubles
    (IEEE division is deterministic)."""
    return (
        F.sum(F.col(c).cast(f"decimal(30,{scale})")).cast("double")
        / F.count(F.col(c))
    )


# SQL-side twins of dsum/davg for the DuckDB oracle.
def SQL_DSUM(c: str, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({c} AS DECIMAL(30,{scale}))) AS DOUBLE)"


def SQL_DAVG(c: str, scale: int = 6) -> str:
    return (
        f"CAST(SUM(CAST({c} AS DECIMAL(30,{scale}))) AS DOUBLE)"
        f" / COUNT({c})"
    )


# ---------------------------------------------------------------------------
# Flagship: user-context star (SURVEY §3.1 analog, J2 + O1 + A2 + A9)
# ---------------------------------------------------------------------------

@register(
    "user_context_star",
    oracle=f"""
    WITH ranked AS (
      SELECT o_custkey, o_orderdate, o_orderstatus, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey ASC) AS rn
      FROM orders
    ), recent AS (
      SELECT * FROM ranked WHERE rn <= 10
    ), per_user AS (
      SELECT o_custkey,
             COUNT(*) AS n_recent,
             {SQL_DSUM('o_totalprice')} AS recent_spend,
             string_agg(
               strftime(o_orderdate, '%Y-%m-%d') || ' ' || o_orderstatus || ' '
                 || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
               chr(10) ORDER BY rn) AS context
      FROM recent GROUP BY o_custkey
    )
    SELECT c_custkey, c_name, c_mktsegment, n_recent, recent_spend, context
    FROM customer JOIN per_user ON c_custkey = o_custkey
    """,
)
def q_user_context_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    return user_context(_t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# Aggregations (A1-A9)
# ---------------------------------------------------------------------------

@register(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {SQL_DSUM('l_quantity')} AS sum_qty,
           {SQL_DSUM('l_extendedprice')} AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))
                    * CAST(1 - l_discount AS DECIMAL(12,4))) AS DOUBLE) AS sum_disc_price,
           {SQL_DAVG('l_quantity')} AS avg_qty,
           {SQL_DAVG('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan→filter→partial agg→final agg; filter and the two
    needed-column projection push into the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(30,2)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(12,4)")
            ).cast("double").alias("sum_disc_price"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "region_revenue",
    oracle=f"""
    SELECT r_name AS region, n_name AS nation,
           {SQL_DSUM('o_totalprice')} AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 star join: fact(orders)→customer→nation→region, dims broadcast so
    the only shuffle is the final group-by."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    nation = _t(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
    region = _t(spark, sf_dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
    out = R.star_join(
        orders,
        [(customer, ["o_custkey"]), (nation, ["c_nationkey"]), (region, ["n_regionkey"])],
    )
    return out.groupBy(
        F.col("r_name").alias("region"), F.col("n_name").alias("nation")
    ).agg(dsum("o_totalprice").alias("revenue"), F.count(F.lit(1)).alias("n_orders"))


@register(
    "order_status_histogram",
    oracle="SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus",
)
def q_order_status_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 group-count."""
    return _t(spark, sf_dir, "orders").groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "brand_price_stats",
    oracle=f"""
    SELECT p_brand,
           CAST(MIN(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
           CAST(MAX(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price,
           {SQL_DAVG('p_retailprice')} AS avg_price
    FROM part GROUP BY p_brand
    """,
)
def q_brand_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A7 min/max/avg per group (grocery store-price analog)."""
    return _t(spark, sf_dir, "part").groupBy("p_brand").agg(
        F.min(F.col("p_retailprice").cast("decimal(18,2)")).cast("double").alias("min_price"),
        F.max(F.col("p_retailprice").cast("decimal(18,2)")).cast("double").alias("max_price"),
        davg("p_retailprice").alias("avg_price"),
    )


@register(
    "daily_value_by_type",
    oracle=f"""
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
           {SQL_DAVG('value')} AS avg_value,
           {SQL_DSUM('value', 6)} AS sum_value,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def q_daily_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 time-bucket mean (resample 'D' analog) over the events stream table."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(
        davg("value").alias("avg_value"),
        dsum("value", 6).alias("sum_value"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "union_all_counts",
    oracle="""
    SELECT 'orders' AS tbl, COUNT(*) AS n FROM orders
    UNION ALL SELECT 'customer' AS tbl, COUNT(*) AS n FROM customer
    UNION ALL SELECT 'lineitem' AS tbl, COUNT(*) AS n FROM lineitem
    """,
)
def q_union_all_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 UNION ALL of aggregate rows (init-db.sql:79-82 status report)."""
    parts = []
    for name in ("orders", "customer", "lineitem"):
        parts.append(
            _t(spark, sf_dir, name).agg(
                F.lit(name).alias("tbl"), F.count(F.lit(1)).alias("n")
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Filters / predicates (P1-P12)
# ---------------------------------------------------------------------------

@register(
    "filtered_projection",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 150000
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    """,
)
def q_filtered_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P4: projection + conjunctive equality/range/date predicates, all
    pushed into the parquet scan by Catalyst."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderstatus") == "O")
            & (F.col("o_totalprice") > 150000)
            & (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "keyword_or_filter",
    oracle="""
    SELECT doc_id, text
    FROM documents
    WHERE lower(text) LIKE '%vector%' OR lower(text) LIKE '%stream%'
    """,
)
def q_keyword_or_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 comma-split OR-containment keyword filter (news_service_rss.py:190-203)."""
    keywords = ["vector", "stream"]
    docs = _t(spark, sf_dir, "documents")
    cond = None
    for kw in keywords:
        c = F.lower(F.col("text")).contains(kw)
        cond = c if cond is None else (cond | c)
    return docs.filter(cond).select("doc_id", "text")


@register(
    "null_normalization",
    oracle="""
    SELECT doc_id, coalesce(lang, '') AS lang_norm,
           CAST(coalesce(n_chars, 0) AS BIGINT) AS n_chars_norm
    FROM documents
    """,
)
def q_null_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 null→''/0 normalization on fetched rows."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.coalesce(F.col("lang"), F.lit("")).alias("lang_norm"),
        F.coalesce(F.col("n_chars"), F.lit(0)).cast("long").alias("n_chars_norm"),
    )


# ---------------------------------------------------------------------------
# Joins (J1-J6)
# ---------------------------------------------------------------------------

@register(
    "scalar_subquery_join",
    oracle=f"""
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_name = 'Customer#000000042')
    """,
)
def q_scalar_subquery_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 scalar-subquery equi-join (db_llm_service.py:144-148) → broadcast
    semi-join on the one-row dimension side."""
    orders = _t(spark, sf_dir, "orders")
    target = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_name") == "Customer#000000042")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return orders.join(F.broadcast(target), "o_custkey", "left_semi").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )


@register(
    "customers_with_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 existence semi-join."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return R.semi_join(cust, orders, ["c_custkey"]).select("c_custkey", "c_name")


@register(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= DATE '1999-01-01')
    """,
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 anti-join: customers with no order since 1999 (churn shape).
    Every testdata customer has at least one order overall, so the
    unfiltered anti-join was structurally empty and its green row
    vacuous (same defect class as VERDICT r05 #3); the date-filtered
    right side keeps the anti-join plan and yields 6/29/305 rows at
    sf0.001/0.01/0.1."""
    cust = _t(spark, sf_dir, "customer")
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return R.anti_join(cust, recent, ["c_custkey"]).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# Sorts / limits / top-k / windows (O1-O7, W1-W2)
# ---------------------------------------------------------------------------

@register(
    "top_orders_recent",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
    FROM orders
    ORDER BY o_orderdate DESC, o_orderkey ASC LIMIT 10
    """,
)
def q_top_orders_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 recency top-n → TakeOrderedAndProject (no global sort)."""
    return R.top_n_recent(
        _t(spark, sf_dir, "orders"),
        "o_orderdate",
        10,
        tie_cols=[F.col("o_orderkey").asc()],
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")


@register(
    "multi_key_sort",
    oracle="""
    SELECT event_id, user_id, ts, event_type
    FROM events
    ORDER BY user_id ASC, ts ASC, event_id ASC LIMIT 100
    """,
)
def q_multi_key_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 multi-key sort + limit (ORDER BY event_date, event_time LIMIT 5)."""
    return (
        _t(spark, sf_dir, "events")
        .orderBy(F.col("user_id").asc(), F.col("ts").asc(), F.col("event_id").asc())
        .limit(100)
        .select("event_id", "user_id", "ts", "event_type")
    )


@register(
    "per_customer_top3_orders",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def q_per_customer_top3_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 per-group cap (per_title_cap analog)."""
    return R.per_group_top_n(
        _t(spark, sf_dir, "orders"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        3,
    ).select("o_custkey", "o_orderkey", "o_totalprice")


@register(
    "diversified_docs",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id ASC) AS grp_rank
      FROM documents
    )
    SELECT doc_id, source, n_chars FROM ranked
    WHERE grp_rank <= 3
    ORDER BY grp_rank ASC, n_chars DESC, doc_id ASC LIMIT 12
    """,
)
def q_diversified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 round-robin diversification (per-source cap 3, round-robin to 12)."""
    return R.diversify_round_robin(
        _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars"),
        group_col="source",
        score_col="n_chars",
        per_group_cap=3,
        top_k=12,
        tie_col="doc_id",
    )


@register(
    "dedup_min_event",
    oracle="""
    SELECT user_id, event_type, MIN(event_id) AS first_event_id
    FROM events GROUP BY user_id, event_type
    """,
)
def q_dedup_min_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U2 dedup on key — deterministic survivor via group-min rather than
    dropDuplicates' arbitrary pick."""
    return _t(spark, sf_dir, "events").groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id")
    )


# ---------------------------------------------------------------------------
# Vector layer (SURVEY §2.9, J4/V3/V5): exact kNN via broadcast + codegen'd
# fixed-point scoring; margin cut; near-dup similarity join.
# ---------------------------------------------------------------------------

# CAST(list_sum AS BIGINT): DuckDB's list_sum yields DOUBLE; our sums stay
# < 2^53 so the round-trip is exact. The quantization scale is interpolated
# from the operator's FIXED_SCALE constant (ADVICE r05 #4: a literal here
# would silently desynchronize the oracle if the operator's scale changed).
_Q = f"CAST(ROUND(CAST({{x}} AS DOUBLE)*{V.FIXED_SCALE}) AS BIGINT)"
_DOT_I64_SQL = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), "
    f"x -> {_Q.format(x='x[1]')} * {_Q.format(x='x[2]')})) AS BIGINT)"
)
_L2_I64_SQL = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), "
    f"x -> ({_Q.format(x='x[1]')} - {_Q.format(x='x[2]')})"
    f" * ({_Q.format(x='x[1]')} - {_Q.format(x='x[2]')}))) AS BIGINT)"
)


def _query_vectors(spark: SparkSession, sf_dir: str, max_id: int) -> DataFrame:
    return (
        read_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < max_id)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding"))
    )


@register(
    "knn_top10_dot",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT q_id, vec_id, label,
             {_DOT_I64_SQL.format(a='embedding', b='qe')} AS score_i64
      FROM embeddings, q WHERE vec_id <> q_id)
    SELECT q_id, vec_id, label, score_i64 FROM scored
    ORDER BY score_i64 DESC, vec_id ASC LIMIT 10
    """,
)
def q_knn_top10_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3/J4: single-query exact kNN, cosine (unit vectors → dot)."""
    corpus = _t(spark, sf_dir, "embeddings")
    return V.knn_exact(corpus, _query_vectors(spark, sf_dir, 1), k=10).select(
        "q_id", "vec_id", "label", "score_i64"
    )


@register(
    "knn_top10_l2",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT q_id, vec_id, label,
             {_L2_I64_SQL.format(a='embedding', b='qe')} AS score_i64
      FROM embeddings, q WHERE vec_id <> q_id)
    SELECT q_id, vec_id, label, score_i64 FROM scored
    ORDER BY score_i64 ASC, vec_id ASC LIMIT 10
    """,
)
def q_knn_top10_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: L2-metric branch of the score handling."""
    corpus = _t(spark, sf_dir, "embeddings")
    return V.knn_exact(
        corpus, _query_vectors(spark, sf_dir, 1), k=10, metric="l2"
    ).select("q_id", "vec_id", "label", "score_i64")


@register(
    "knn_batch_top5",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q_id, vec_id,
             {_DOT_I64_SQL.format(a='embedding', b='qe')} AS score_i64
      FROM embeddings, q WHERE vec_id <> q_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY score_i64 DESC, vec_id ASC) AS rn
      FROM scored)
    SELECT q_id, vec_id, score_i64 FROM ranked WHERE rn <= 5
    """,
)
def q_knn_batch_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN join: many queries broadcast against the in-place corpus."""
    corpus = _t(spark, sf_dir, "embeddings")
    return V.knn_exact(corpus, _query_vectors(spark, sf_dir, 5), k=5).select(
        "q_id", "vec_id", "score_i64"
    )


@register(
    "knn_margin_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT vec_id,
             CAST({_DOT_I64_SQL.format(a='embedding', b='qe')} AS DOUBLE) / 1e12 AS sim
      FROM embeddings, q WHERE vec_id <> q_id),
    floored AS (SELECT * FROM scored WHERE sim >= 0.15),
    cut AS (
      SELECT *, GREATEST(MAX(sim) OVER () - 0.25, MAX(sim) OVER () * 0.75) AS c
      FROM floored)
    SELECT vec_id, sim FROM cut WHERE sim >= c
    ORDER BY sim DESC, vec_id ASC LIMIT 5
    """,
)
def q_knn_margin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7+P8+O5: over-fetch → sim floor → relative margin cut → top-k
    (the reference's full retrieval refinement, enhanced:689-727)."""
    corpus = _t(spark, sf_dir, "embeddings")
    hits = V.knn_exact(corpus, _query_vectors(spark, sf_dir, 1), k=20).withColumn(
        "sim", F.col("score_i64").cast("double") / F.lit(1e12)
    )
    return R.topk_margin(
        hits, "sim", k=5, margin=0.25, floor=0.15, tie_col="vec_id"
    ).select("vec_id", "sim")


@register(
    "embedding_near_dup",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_DOT_I64_SQL.format(a='a.embedding', b='b.embedding')} AS sim_i64
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_DOT_I64_SQL.format(a='a.embedding', b='b.embedding')} >= 250000000000
    """,
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, label-blocked self-join —
    the ORACLE TWIN of the dedup (exact and SQL-expressible, so the driver
    can hash-check it). The primary path at corpus scale is the LSH-pruned
    variant registered as ``embedding_near_dup_lsh``; blocking here relies
    on bounded label groups. Scoring runs as per-block exact float64
    matmul strips (near_dup_pairs_matmul — bit-identical to the integer
    pair loop, ~10× the throughput).

    Chunk decomposition is enabled from the parquet FOOTER row count (a
    driver-side metadata peek, zero Spark jobs): below 80k total vectors
    every label block fits one 8192-row chunk many times over, so the
    decomposition's per-block count job would be pure fixed latency
    (VERDICT r8: +51% at sf0.1 for nothing); at sf10 scale (200k+) the
    m·(m+1)/2 task fan-out is what keeps the Gram work parallel. Output
    is row-identical on both paths."""
    emb = _t(spark, sf_dir, "embeddings")
    n_total = footer_row_count(sf_dir, "embeddings")
    return V.near_dup_pairs_matmul(
        emb,
        threshold_i64=250_000_000_000,
        block_col="label",
        chunk_rows=None if n_total is not None and n_total <= 80_000 else 8192,
    )


@register(
    "vector_search_sql",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7),
    scored AS (
      SELECT vec_id, label,
             {_DOT_I64_SQL.format(a='embedding', b='qe')} AS score_i64
      FROM embeddings, q WHERE vec_id <> 7)
    SELECT vec_id, label, score_i64 FROM scored
    ORDER BY score_i64 DESC, vec_id ASC LIMIT 12
    """,
)
def q_vector_search_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §4's declared-optional VECTOR_SEARCH SQL entry point: the
    vector layer reached entirely through ``spark.sql`` (the eng.sql
    surface), not the DataFrame API. The statement is built by
    ``vector.knn_sql_statement`` — fixed-point dot as a codegen'd
    higher-order aggregate, constant-key broadcast join for the one-row
    query side, TakeOrderedAndProject for the top-k. Facade:
    ``Engine.knn_sql`` (api.py). Reference analog: FAISS query route
    ``enhanced_internal_db_service.py:602-727`` exposed over SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    emb.where(F.col("vec_id") != 7).createOrReplaceTempView("emb_vector_search")
    emb.createOrReplaceTempView("emb_vector_search_q")
    stmt = V.knn_sql_statement(
        "emb_vector_search",
        "(SELECT embedding FROM emb_vector_search_q WHERE vec_id = 7)",
        k=12,
    )
    return spark.sql(stmt)


# Deterministic RP-LSH shared constants: the oracle SQL below is GENERATED
# from the same md5-derived hyperplanes the Spark operator uses, so both
# engines take bit-identical integer sign decisions.
def _rp_oracle_sql(threshold_i64: int, dim=64, n_tables=4, n_planes=8) -> str:
    from backend_fastapi_spark.operators.lsh import rp_planes

    planes = rp_planes(dim, n_tables, n_planes)

    def bucket_expr(t: int) -> str:
        bits = []
        for p in range(n_planes):
            h = "[" + ",".join(str(v) for v in planes[t][p]) + "]"
            dot = (
                "list_sum(list_transform(list_zip(qv, "
                + h
                + "), x -> x[1]*x[2]))"
            )
            bits.append(f"CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END")
        return " + ".join(bits)

    keyed = "\n      UNION ALL ".join(
        f"SELECT vec_id, qv, {t} AS t, ({bucket_expr(t)}) AS b FROM q"
        for t in range(n_tables)
    )
    from backend_fastapi_spark.operators.vector import FIXED_SCALE

    return f"""
    WITH q AS (
      SELECT vec_id, list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE)*{FIXED_SCALE}) AS BIGINT)) AS qv
      FROM embeddings),
    keyed AS (
      {keyed}),
    pairs AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
               x -> x[1]*x[2])) AS BIGINT) AS score_i64
      FROM keyed a JOIN keyed b
        ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id)
    SELECT id_a, id_b, score_i64 FROM pairs
    WHERE score_i64 >= {threshold_i64}
    """


def _rp_topk_oracle_sql(k=10, q_ids=(0, 1, 2), dim=64, n_tables=4,
                        n_planes=8) -> str:
    # Same keyed CTE as _rp_oracle_sql (identical md5-parity planes and
    # sign rule); the probe side is the fixed query-id set, candidates
    # are one (t, b) equi-join, and the per-query top-k tie-breaks
    # (score DESC, vec_id ASC) — bit-for-bit the Spark window.
    from backend_fastapi_spark.operators.lsh import rp_planes
    from backend_fastapi_spark.operators.vector import FIXED_SCALE

    planes = rp_planes(dim, n_tables, n_planes)

    def bucket_expr(t: int) -> str:
        bits = []
        for p in range(n_planes):
            h = "[" + ",".join(str(v) for v in planes[t][p]) + "]"
            dot = (
                "list_sum(list_transform(list_zip(qv, "
                + h
                + "), x -> x[1]*x[2]))"
            )
            bits.append(f"CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END")
        return " + ".join(bits)

    keyed = "\n      UNION ALL ".join(
        f"SELECT vec_id, qv, {t} AS t, ({bucket_expr(t)}) AS b FROM q"
        for t in range(n_tables)
    )
    ids = ", ".join(str(i) for i in q_ids)
    return f"""
    WITH q AS (
      SELECT vec_id, list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE)*{FIXED_SCALE}) AS BIGINT)) AS qv
      FROM embeddings),
    keyed AS (
      {keyed}),
    cand AS (
      SELECT DISTINCT qs.vec_id AS q_id, cs.vec_id AS vec_id
      FROM keyed qs JOIN keyed cs ON qs.t = cs.t AND qs.b = cs.b
      WHERE qs.vec_id IN ({ids})),
    scored AS (
      SELECT c.q_id, c.vec_id,
             CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
               x -> x[1]*x[2])) AS BIGINT) AS score_i64
      FROM cand c
      JOIN q a ON a.vec_id = c.q_id
      JOIN q b ON b.vec_id = c.vec_id)
    SELECT q_id, vec_id, score_i64 FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY score_i64 DESC, vec_id ASC) <= {k}
    """


@register("ann_rp_topk", oracle=_rp_topk_oracle_sql())
def q_ann_rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k SEARCH via deterministic RP-LSH bucket probing
    (operators/lsh.py::rp_topk) — the query-serving twin of
    embedding_near_dup_rp and the hash-checkable alternative to the
    IVF probe path (reference FAISS search role,
    src/services/enhanced_internal_db_service.py:602-630). The corpus
    signatures once (±1 int64 matmul), the 3 probe vectors broadcast,
    candidates come from ONE (table, bucket) equi-join, and only
    collisions are exact-scored — no model fit, no centroid collect,
    no corpus self-join. Fixed 4×8 configuration to share the pairs
    oracle's CTE; production sizes with rp_size_for. Fewer than k rows
    per query is the honest LSH answer (bucket misses), and the oracle
    reproduces exactly that."""
    from backend_fastapi_spark.operators.lsh import rp_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    return rp_topk(emb, q, k=10, n_tables=4, n_planes=8)


def _sq8_oracle_sql() -> str:
    # Mirror of vector.sq8_codes/sq8_topk: fx quantize (the _Q macro both
    # engines share), per-vector |max| scale, int8 codes via
    # ROUND(fx·127/scale) (identical IEEE divide + half-away round),
    # exact-int64 approximate dot, top-(rerank·k) by (approx, id), exact
    # fixed-point re-rank, top-k by (score, id).
    q_elem = _Q.format(x="x")
    return f"""
    WITH fx AS (
      SELECT vec_id, embedding,
             list_transform(embedding, x -> {q_elem}) AS fxv
      FROM embeddings),
    sc AS (
      SELECT vec_id, embedding, fxv,
             list_max(list_transform(fxv, x -> abs(x))) AS s
      FROM fx),
    codes AS (
      SELECT vec_id, embedding, s,
             list_transform(fxv, x -> CASE WHEN s = 0 THEN 0
               ELSE CAST(ROUND(x * 127.0 / s) AS BIGINT) END) AS code
      FROM sc),
    q AS (
      SELECT vec_id AS q_id, embedding AS q_emb, s AS q_s, code AS q_code
      FROM codes WHERE vec_id < 3),
    approx AS (
      SELECT q.q_id, c.vec_id,
             CAST(list_sum(list_transform(list_zip(c.code, q.q_code),
                                          p -> p[1] * p[2])) AS BIGINT)
               * c.s * q.q_s AS approx_i64,
             c.embedding, q.q_emb
      FROM codes c, q),
    topm AS (
      SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY approx_i64 DESC, vec_id ASC) AS rn
      FROM approx),
    rer AS (
      SELECT q_id, vec_id, approx_i64,
             {_DOT_I64_SQL.format(a='embedding', b='q_emb')} AS score_i64
      FROM topm WHERE rn <= 40)
    SELECT q_id, vec_id, approx_i64, score_i64
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY score_i64 DESC, vec_id ASC) AS rn2 FROM rer)
    WHERE rn2 <= 10
    ORDER BY q_id, rn2
    """


@register("ann_sq8_rerank", oracle=_sq8_oracle_sql())
def q_ann_sq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via SQ8 scalar quantization + exact re-rank
    (operators/vector.py::sq8_codes/sq8_topk — FAISS
    IndexScalarQuantizer(QT_8bit)'s role, reference FAISS store
    src/services/enhanced_internal_db_service.py:602-630): the candidate
    scan reads ~72 B/vector int8 codes instead of 256-512 B floats (the
    4x IO lever at 100 TB), ranks by an exact-int64 approximate dot,
    and re-ranks only rerank·k survivors with the full-precision
    fixed-point dot. Unlike FAISS's trained quantizers every step is
    integer/IEEE arithmetic DuckDB reproduces, so the driver
    hash-checks the compressed index end to end — the same
    deterministic-twin discipline as ann_rp_topk/ann_ivf_deterministic."""
    from backend_fastapi_spark.operators.vector import sq8_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    return sq8_topk(emb, q, k=10, rerank=4)


@register("embedding_near_dup_rp", oracle=_rp_oracle_sql(250_000_000_000))
def q_embedding_near_dup_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via DETERMINISTIC random-projection LSH
    (operators/lsh.py::rp_near_dup_pairs) — the hash-checkable ANN path.
    MLlib's seeded LSH (embedding_near_dup_lsh) can only ever be
    rows-only-checked because its hyperplanes live in a JVM RNG; here
    every hyperplane component is an md5 parity and every sign decision
    is int64 fixed-point, so the bucketing, candidate set, and verify
    scores are reproducible in any engine — the driver hash-checks an
    approximate index end to end. Same scale shape as MinHash banding:
    narrow projection pass, one equi-join on exploded (table, bucket)
    keys, exact verify on collisions only.

    Precision is exactly 1 (every emitted pair passes the exact
    fixed-point verify); recall is the tables×planes knob and is a
    function of the threshold's angle. The 0.25 threshold here matches
    the exact twin (embedding_near_dup) for comparability, but sits far
    below the regime cosine-LSH prunes well at — measured ~8% recall on
    this corpus's low-sim pairs. The operator's working regime is
    high-similarity dedup: tests/test_vector.py plants cos≥0.95 near-dups
    and asserts recall ≥ 0.8 with precision 1."""
    from backend_fastapi_spark.operators.lsh import rp_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return rp_near_dup_pairs(emb, threshold_i64=250_000_000_000)


@register(
    "embedding_near_dup_rp_sized",
    oracle=_rp_oracle_sql(250_000_000_000, n_tables=6, n_planes=12),
)
def q_embedding_near_dup_rp_sized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CORPUS-SIZED RP near-dup configuration (6 tables × 12 planes —
    what ``lsh.rp_size_for`` picks for a 10^5-10^6-vector corpus),
    hash-checked end to end like the fixed 4×8 twin. Why it exists as
    its own registered query: candidate volume grows ~n²/2^planes, so
    the 4×8 form that is exactly right at oracle scale degenerates at
    100× — measured at sf10 (200 k vectors, r12 full-run sidecar): 4×8
    = 256 buckets/table took 222.6 s, while this 2^12-bucket sizing ran
    the same corpus in ~27 s (SCALING.md r7 table), cut again to ~15 s
    by the r13 bucket-local BLAS verify (VERDICT r12 directive #5,
    SCALING.md r13) — and the sf10 headline should time the plan a
    production corpus would run. More planes cut per-table collision
    probability for true pairs; the extra tables restore recall (the
    classic LSH budget; the planted cos≥0.95 regime is test-asserted
    for this exact configuration in tests/test_vector.py). Precision
    stays exactly 1: every emitted pair passes the exact fixed-point
    verify."""
    from backend_fastapi_spark.operators.lsh import rp_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return rp_near_dup_pairs(
        emb, threshold_i64=250_000_000_000, n_tables=6, n_planes=12
    )


@register("embedding_near_dup_lsh", oracle=None)  # approximate by construction
def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRIMARY embedding near-dup path at 100 TB: LSH-bucketed
    approximate self-join (BucketedRandomProjectionLSH) — only colliding
    hash buckets meet, no unbounded blocks, no crossJoin. Recall vs the
    exact pairs is asserted in tests/test_vector.py."""
    from backend_fastapi_spark.operators.lsh import ann_similarity_join

    emb = _t(spark, sf_dir, "embeddings")
    return ann_similarity_join(emb, max_dist=1.1).select(
        "id_a", "id_b", "dist"
    )


# SemDeDup threshold: cos 0.25 in fixed-point (matches the exact/RP
# near-dup twins for cross-operator comparability; 464 within-cluster
# pairs at sf0.01 — verified non-vacuous by DuckDB probe).
_SEMDEDUP_TAU_I64 = 250_000_000_000


@register(
    "semantic_dedup_pairs",
    oracle=SD.semdedup_pairs_oracle_sql(_SEMDEDUP_TAU_I64),
)
def q_semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup pairs (SemDeDup, arXiv:2303.09540): deterministic
    md5-medoid coarse clusters -> within-cluster int64-exact cosine
    (unit-norm corpus) above tau. Complements the syntactic family
    (exact/MinHash/SimHash/winnowing) — near-dups that share meaning,
    not bytes. Assignment is the shared zero-shuffle Arrow int64 matmul
    (operators/ivf.py); pairs come from a per-cluster numpy Gram matrix
    inside applyInPandas — one shuffle on the cluster key, n_c^2 work
    bounded by k_clusters ~ sqrt(n) sizing. Fully hash-checked: medoids,
    assignment, pair set, and scores reproduce bit-for-bit in DuckDB."""
    from backend_fastapi_spark.operators.semdedup import semantic_dedup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs(emb, threshold_i64=_SEMDEDUP_TAU_I64)


@register(
    "semantic_dedup_summary",
    oracle=SD.semdedup_summary_oracle_sql(_SEMDEDUP_TAU_I64),
)
def q_semantic_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup applied: per-cluster (n_vectors, n_removed, n_kept) under
    the min-id-exemplar removal policy — the corpus-shrink report a
    training-data pipeline reads before committing the prune. Same
    deterministic cluster/pair machinery as semantic_dedup_pairs, reduced
    to counts executor-side (nothing collected)."""
    from backend_fastapi_spark.operators.semdedup import (
        semantic_dedup_summary,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup_summary(emb, threshold_i64=_SEMDEDUP_TAU_I64)


def _semdedup_union_oracle_sql() -> str:
    # UNION (not UNION ALL) of the two already-green twins: both verify
    # with the identical quantized dot, so a pair found by both carries
    # one score and set-union dedupes it.
    sem = SD.semdedup_pairs_oracle_sql(_SEMDEDUP_TAU_I64)
    rp = _rp_oracle_sql(_SEMDEDUP_TAU_I64)
    return f"""
    SELECT id_a, id_b, score_i64 FROM ({sem})
    UNION
    SELECT id_a, id_b, score_i64 FROM ({rp})
    """


@register("semantic_dedup_union", oracle=_semdedup_union_oracle_sql())
def q_semantic_dedup_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup ∪ RP-LSH near-dup pairs (VERDICT r06 directive #5): the
    registered form of the cluster-boundary mitigation. SemDeDup alone
    misses twins that argmin-assign across a medoid boundary
    (deterministically 33/40 planted dups on the test corpus); the
    RP-LSH pass buckets by hyperplane signs with no clustering, so the
    union restores the boundary losses (40/40 in
    tests/test_vector.py) while staying hash-exact — both sides verify
    candidates with the same int64 fixed-point dot."""
    from backend_fastapi_spark.operators.semdedup import (
        semantic_dedup_union_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup_union_pairs(emb, threshold_i64=_SEMDEDUP_TAU_I64)


# ---------------------------------------------------------------------------
# Text / document pipeline (SURVEY §2.8) + LLM-data-pipeline dedup & analysis
# ---------------------------------------------------------------------------

# Shared oracle CTEs: whitespace tokens and distinct word-3-gram shingles.
_TOKS_CTE = "toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)"
_SHINGLES_CTE = (
    "sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle "
    "FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) t "
    "WHERE len(w) >= 3)"
)
_STOP_SQL = "['" + "','".join(TX.STOPWORDS) + "']"


@register(
    "chunk_documents",
    oracle="""
    SELECT doc_id, CAST((i-1)//150 AS BIGINT) AS chunk_idx, substr(text, i, 200) AS chunk
    FROM documents,
         LATERAL (SELECT unnest(generate_series(1, greatest(length(text),1), 150)) AS i) t
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 chunking: fixed-size char chunks, overlap 50 (size 200 / stride
    150) — narrow fan-out, no shuffle."""
    return TX.char_chunks(
        _t(spark, sf_dir, "documents"), size=200, stride=150
    )


_SENT_DELIM_CLASS = r"[.!?\n。！？]"


@register(
    "sentence_segments",
    oracle=f"""
    WITH p AS (
      SELECT doc_id,
             replace(replace(replace(text,
               'table ', 'table. '),
               'stream ', 'stream! '),
               'row ', 'row? ') AS t
      FROM documents),
    seg AS (
      SELECT doc_id,
             regexp_extract_all(t, '[^.!?\n。！？]*{_SENT_DELIM_CLASS}') AS sents,
             regexp_extract(t, '[^.!?\n。！？]*$') AS rem
      FROM p),
    complete AS (
      SELECT doc_id, trim(s) AS sentence,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS seq
      FROM (SELECT doc_id,
                   unnest(sents) AS s,
                   unnest(generate_series(1, len(sents))) AS i
            FROM seg)
      WHERE trim(s) <> ''),
    counts AS (
      SELECT doc_id, COUNT(*) AS n FROM complete GROUP BY doc_id),
    flushed AS (
      SELECT seg.doc_id, trim(seg.rem) AS sentence,
             COALESCE(counts.n, 0) AS seq
      FROM seg LEFT JOIN counts ON seg.doc_id = counts.doc_id
      WHERE (seg.rem LIKE '%, ' OR seg.rem LIKE '%; '
             OR seg.rem LIKE '%: ' OR seg.rem LIKE '% - '
             OR length(trim(seg.rem)) >= 20)
        AND trim(seg.rem) <> '')
    SELECT doc_id, seq, sentence FROM complete
    UNION ALL
    SELECT doc_id, seq, sentence FROM flushed
    """,
)
def q_sentence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2/T3 promoted to driver hash-green (VERDICT r08 directive #5):
    the BATCH ANALOG of the stateful sentence segmentation — the exact
    ``split_complete`` + ``should_flush_partial`` functions the streaming
    op (streaming/sentence_stream.py, reference
    src/services/streaming_tts_service.py:25-69) executes per micro-batch,
    applied to each document as a one-batch session. Single-batch
    semantics are chunking-invariant (split_complete is
    prefix-incremental), so this row certifies the delimiter scan, the
    empty-sentence drop, the seq accounting, and the two-arm flush
    policy; the cross-batch carry-over keeps its dedicated streaming
    tests. The synthetic documents carry no punctuation, so delimiters
    are INJECTED deterministically first (plain substring replace —
    'table '→'table. ', 'stream '→'stream! ', 'row '→'row? ' — mirrored
    verbatim in the oracle; str.replace and DuckDB replace() are both
    leftmost non-overlapping all-occurrence). Arrow-batched mapInPandas,
    narrow, zero shuffles."""
    import pandas as pd

    from backend_fastapi_spark.streaming.sentence_stream import (
        should_flush_partial,
        split_complete,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def seg(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                t = (
                    (text or "")
                    .replace("table ", "table. ")
                    .replace("stream ", "stream! ")
                    .replace("row ", "row? ")
                )
                done, rest = split_complete(t)
                for i, s in enumerate(done):
                    rows.append((doc_id, i, s))
                if should_flush_partial(rest) and rest.strip():
                    rows.append((doc_id, len(done), rest.strip()))
            yield pd.DataFrame(rows, columns=["doc_id", "seq", "sentence"])

    return docs.mapInPandas(seg, "doc_id long, seq long, sentence string")


@register(
    "chunk_documents_recursive",
    oracle="""
    SELECT doc_id, CAST(0 AS INTEGER) AS chunk_idx, trim(text) AS chunk
    FROM documents WHERE length(trim(text)) > 0
    ORDER BY doc_id
    """,
)
def q_chunk_documents_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 LangChain-parity recursive chunking: separator ladder
    ["\\n\\n","\\n","。",". ",".","? ","?","! ","!"," "], size 700 /
    overlap 120 (rag_service.py:78-83, enhanced_internal_db_service.py:
    591-600, backend_config.yaml:49-65). Pandas-UDF + posexplode — narrow,
    no shuffle.

    Promoted to hash-green in r10 with the same corpus-bound oracle
    contract as ingest_pipeline_embedded: every document on the current
    testdata generation is shorter than chunk_size (max ~558 chars, pure
    space-separated words), so the real splitter's greedy merge emits
    EXACTLY ONE stripped chunk per non-empty document — which the oracle
    re-derives as trim(text), certifying the fan-out pairing
    (chunk_idx), the strip/drop-empty semantics, and per-doc coverage. A
    longer future corpus turns this row red rather than silently wrong.
    The multi-chunk merge/overlap machinery stays hash-certified by
    recursive_chunk_merge_oracle and golden-tested
    (tests/test_chunker.py, tests/test_functions.py); the full
    multi-chunk LADDER DESCENT is hash-certified end to end by
    chunk_documents_multichunk (r11)."""
    from backend_fastapi_spark.operators.chunker import recursive_chunks

    return recursive_chunks(
        _t(spark, sf_dir, "documents"), chunk_size=700, chunk_overlap=120
    ).orderBy("doc_id")


@register(
    "chunk_documents_multichunk",
    oracle=r"""
    WITH RECURSIVE
    docs AS (
      SELECT doc_id, doc_id % 50 AS grp,
             CASE WHEN (doc_id // 50) % 2 = 0 THEN 'A' ELSE 'B' END AS seg,
             trim(regexp_replace(regexp_replace(
                  text, '[\n\r\t。.?!]+', ' ', 'g'), ' +', ' ', 'g')) AS t
      FROM documents),
    g AS (
      SELECT grp, seg, string_agg(t, ' ' ORDER BY doc_id) AS t
      FROM docs WHERE t <> '' GROUP BY grp, seg),
    ok AS (
      SELECT grp FROM g GROUP BY grp
      HAVING COUNT(*) = 2 AND MIN(length(t)) >= 700
         AND MAX(list_max(list_transform(string_split(t, ' '),
                                         w -> length(w)))) <= 399),
    gok AS (SELECT g.grp, g.seg, g.t FROM g JOIN ok USING (grp)),
    -- piece lengths under keep_separator glue: every piece after the
    -- first carries its 1-char separator; segment B's FIRST piece also
    -- carries one (the "\n" the rung above glued to it)
    words AS (
      SELECT grp, seg, i,
             CASE WHEN i = 1 AND seg = 'A' THEN length(w[i])
                  ELSE 1 + length(w[i]) END AS plen
      FROM (SELECT grp, seg, string_split(t, ' ') AS w FROM gok) s,
           LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) u),
    pfx AS (
      SELECT grp, seg, i, sum(plen) OVER (PARTITION BY grp, seg ORDER BY i) AS p
      FROM words),
    tot AS (SELECT grp, seg, max(p) AS tot FROM pfx GROUP BY grp, seg),
    -- greedy merge with sliding overlap as a boundary chain over piece
    -- prefix sums, PER SEGMENT (the ladder descent restarts the merge
    -- at each recursion boundary — overlap never crosses it)
    chain(grp, seg, tot, k, ps, pe) AS (
      SELECT t.grp, t.seg, t.tot, 0, 0,
             (SELECT max(p2.p) FROM pfx p2
               WHERE p2.grp = t.grp AND p2.seg = t.seg AND p2.p <= 700)
      FROM tot t
      UNION ALL
      SELECT c.grp, c.seg, c.tot, c.k + 1,
             (SELECT min(p2.p) FROM pfx p2
               WHERE p2.grp = c.grp AND p2.seg = c.seg
                 AND p2.p >= c.pe - 120),
             (SELECT max(p3.p) FROM pfx p3
               WHERE p3.grp = c.grp AND p3.seg = c.seg
                 AND p3.p <= (SELECT min(p4.p) FROM pfx p4
                               WHERE p4.grp = c.grp AND p4.seg = c.seg
                                 AND p4.p >= c.pe - 120) + 700)
      FROM chain c WHERE c.pe < c.tot),
    na AS (SELECT grp, max(k) + 1 AS n_a FROM chain WHERE seg = 'A' GROUP BY grp)
    SELECT c.grp AS grp,
           CAST(CASE WHEN c.seg = 'A' THEN c.k ELSE c.k + na.n_a END
                AS INTEGER) AS chunk_idx,
           -- strip_whitespace: chunk 0 of B sheds its leading "\n"; every
           -- later chunk sheds the glued leading space
           CASE WHEN c.seg = 'B' AND c.k = 0
                  THEN substr(gt.t, 1, CAST(c.pe - 1 AS INT))
                WHEN c.k = 0 THEN substr(gt.t, 1, CAST(c.pe AS INT))
                WHEN c.seg = 'B'
                  THEN substr(gt.t, CAST(c.ps + 1 AS INT),
                              CAST(c.pe - c.ps - 1 AS INT))
                ELSE substr(gt.t, CAST(c.ps + 2 AS INT),
                            CAST(c.pe - c.ps - 1 AS INT)) END AS chunk
    FROM chain c JOIN gok gt USING (grp, seg) JOIN na USING (grp)
    """,
)
def q_chunk_documents_multichunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recursive chunker's MULTI-CHUNK LADDER DESCENT, hash-certified
    end to end (VERDICT r10 directive #1 — the one case the r10
    promotions deliberately left uncovered: every corpus document is
    single-chunk short, so chunk_documents_recursive's hashed run never
    splits). Documents are planted into long two-paragraph texts
    (deterministically, inside the query — the pii_scrub_stats planting
    pattern): per group (doc_id % 50), paragraph A concatenates the
    even-block docs and paragraph B the odd-block docs
    ((doc_id // 50) % 2), joined by "\\n\\n". Both paragraphs are
    multi-KB, so the REAL pandas-UDF chunker
    (operators/chunker.py::recursive_chunks, reference ladder, 700/120 —
    enhanced_internal_db_service.py:591-600, the regime
    rag_service.py:78-83 actually operates in) must descend the ladder:
    "\\n\\n" splits the paragraphs (keep_separator glues "\\n\\n" onto
    B); A, oversized, recurses to the " " rung and greedy-merges words
    with the 120-char sliding overlap; B recurses through the "\\n" rung
    (emitting the glued "\\n" as an empty chunk that is DROPPED) before
    its own word merge. Every group emits 4+ chunks at sf0.01.

    The oracle re-derives all of it in SQL: per-segment piece prefix
    sums under glue accounting (B's first piece carries the "\\n"), the
    greedy merge + pop-to-overlap boundary chain as a recursive CTE
    (pe = max prefix <= ps + 700, next ps = min prefix >= pe - 120 —
    the exact _merge_pieces loop on pieces shorter than
    chunk_size - overlap), per-position strip semantics, and the global
    chunk_idx across the A/B recursion boundary (overlap must NOT cross
    it). Validated chunk-for-chunk against recursive_split at
    sf0.001/0.01/0.1 (290/2600 chunks) before registration. Spark plan:
    one groupBy, then the same no-shuffle pandas-UDF fan-out as every
    chunker query."""
    from backend_fastapi_spark.operators.chunker import recursive_chunks

    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace("text", "[\\n\\r\\t。.?!]+", " "), " +", " "
        )
    )
    d = (
        _t(spark, sf_dir, "documents")
        .select(
            (F.col("doc_id") % 50).alias("grp"),
            F.when(F.expr("(doc_id div 50) % 2") == 0, F.lit("A"))
            .otherwise(F.lit("B"))
            .alias("seg"),
            "doc_id",
            clean.alias("t"),
        )
        .filter(F.col("t") != "")
    )
    seg_txt = d.groupBy("grp", "seg").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "t"))),
                lambda s: s["t"],
            ),
            " ",
        ).alias("t")
    )
    wide = seg_txt.groupBy("grp").agg(
        F.max(F.when(F.col("seg") == "A", F.col("t"))).alias("ta"),
        F.max(F.when(F.col("seg") == "B", F.col("t"))).alias("tb"),
    )
    ok = wide.filter(
        F.col("ta").isNotNull()
        & F.col("tb").isNotNull()
        & (F.length("ta") >= 700)
        & (F.length("tb") >= 700)
        & (
            F.array_max(
                F.transform(
                    F.split(F.concat_ws(" ", "ta", "tb"), " "), F.length
                )
            )
            <= 399
        )
    )
    planted = ok.select(
        "grp", F.concat(F.col("ta"), F.lit("\n\n"), F.col("tb")).alias("t")
    )
    return recursive_chunks(
        planted, text_col="t", id_col="grp", chunk_size=700, chunk_overlap=120
    ).select("grp", "chunk_idx", "chunk")


@register(
    "exact_dup_groups",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 97 = 0)
    SELECT md5(text) AS text_hash, COUNT(*) AS n_dups, MIN(doc_id) AS canonical_id
    FROM corpus GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash group-by. The synthetic corpus has no
    exact text duplicates at any sf (probed in DuckDB), so dedup over the
    raw table was a vacuous green (VERDICT r05 #3's defect class); the
    input unions a deterministic re-ingested slice (every 97th doc under
    new ids — the re-crawl scenario exact dedup exists for), giving the
    group-by real collisions: 6 groups at sf0.01, 60 at sf0.1."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    reingested = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return D.exact_dup_groups(docs.unionByName(reingested))


# Oracle fragments shared by the Jaccard-verified families. ``inter``
# holds each pair's shared-shingle count, ``cnt`` each document's set size.
_CAPPED_INTER_SQL = """
    -- document-frequency cap: shingles in >64 docs are dropped from the
    -- universe before the self-join (hot-shingle skew guard)
    capped AS (
      SELECT sh.doc_id, sh.shingle FROM sh
      JOIN (SELECT shingle FROM sh GROUP BY 1 HAVING COUNT(*) <= 64) keep
      USING (shingle)),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)"""
_JACCARD_SQL = "CAST(n_inter AS DOUBLE) / CAST(ca.n + cb.n - n_inter AS DOUBLE)"
_JACCARD_FROM_SQL = (
    "FROM inter JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id"
)


def _jaccard_pairs_sql(threshold: float) -> str:
    return f"""pairs AS (
      SELECT id_a, id_b {_JACCARD_FROM_SQL}
      WHERE {_JACCARD_SQL} >= {threshold})"""


# Connected components of ``pairs`` as min-label reachability.
_CC_REACH_SQL = """edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
    verts AS (SELECT DISTINCT a AS id FROM edges),
    reach(id, lbl) AS (
      SELECT id, id FROM verts
      UNION
      SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.id)"""


@register(
    "ngram_jaccard_dupes",
    oracle=f"""
    WITH {_TOKS_CTE}, {_SHINGLES_CTE},{_CAPPED_INTER_SQL}
    SELECT id_a, id_b, n_inter, {_JACCARD_SQL} AS jaccard
    {_JACCARD_FROM_SQL}
    WHERE {_JACCARD_SQL} >= 0.8
    """,
)
def q_ngram_jaccard_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.8) over the
    document-frequency-capped shingle universe (max_df 64): shingle
    frequency is power-law, and an uncapped hot shingle creates a
    near-quadratic join bucket at corpus scale. Ubiquitous shingles carry
    no dedup signal, so the cap changes cost, not meaning."""
    return D.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.8, max_shingle_df=64
    )


# 16 hashes, 4 bands × 4 rows: P(band collision) = J^4, so a J=0.9 pair
# survives with ~0.99 probability across 4 bands while the small-vocab
# band buckets that explode under 2-row bands (thousands of docs sharing
# a 2-hash key at sf1) shrink to near-singletons. Signatures are
# Kirsch-Mitzenmacher combinations (h1 + s·h2) mod P of two independent
# md5 bit-slices — 1 string hash + 16 integer ops per shingle row (see
# dedup.minhash_signatures).
_MINHASH_H1_SQL = (
    f"(CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % {D.MINHASH_P})"
)
_MINHASH_H2_SQL = (
    f"(CAST(('0x' || substr(md5(shingle), 16, 15)) AS BIGINT) % {D.MINHASH_P})"
)
_SIG_COLS_SQL = ", ".join(
    f"min(({_MINHASH_H1_SQL} + {s} * {_MINHASH_H2_SQL}) % {D.MINHASH_P})"
    f" AS sig_{s}"
    for s in range(16)
)
_BAND_JOINS_SQL = " UNION ".join(
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b ON "
    + " AND ".join(f"a.sig_{4*b+r} = b.sig_{4*b+r}" for r in range(4))
    + " AND a.doc_id < b.doc_id"
    for b in range(4)
)


@register(
    "minhash_lsh_candidates",
    oracle=f"""
    WITH {_TOKS_CTE}, {_SHINGLES_CTE},
    sig AS (SELECT doc_id, {_SIG_COLS_SQL} FROM sh GROUP BY doc_id)
    {_BAND_JOINS_SQL}
    """,
)
def q_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH banding (4 bands × 4 rows): near-dup candidate
    pairs via band-key equi-joins — the 100 TB dedup path (no all-pairs
    join). 4-row bands keep collision buckets near-singleton even on
    low-entropy corpora; recall at J=0.9 is ~0.99."""
    return D.minhash_lsh_pairs(_t(spark, sf_dir, "documents"))


_INC_BATCH_SQL = """
    batch AS (
      SELECT doc_id + 2000000 AS doc_id, text
      FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 3000000 AS doc_id,
             array_to_string(list_reverse(string_split(text, ' ')), ' ') AS text
      FROM documents WHERE doc_id % 10 = 1)"""

_INC_HITS_SQL = " UNION ".join(
    "SELECT bb.doc_id AS batch_id, cc.doc_id AS corpus_id "
    "FROM sig_b bb JOIN sig cc ON "
    + " AND ".join(f"bb.sig_{4*b+r} = cc.sig_{4*b+r}" for r in range(4))
    for b in range(4)
)
_INC_ORACLE_SQL = f"""
    WITH {_TOKS_CTE}, {_SHINGLES_CTE}, {_INC_BATCH_SQL},
    toks_b AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM batch),
    sh_b AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
             FROM toks_b, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) t
             WHERE len(w) >= 3),
    sig AS (SELECT doc_id, {_SIG_COLS_SQL} FROM sh GROUP BY doc_id),
    sig_b AS (SELECT doc_id, {_SIG_COLS_SQL} FROM sh_b GROUP BY doc_id),
    hits AS (SELECT DISTINCT batch_id, corpus_id FROM (
      SELECT batch_id, corpus_id FROM ({_INC_HITS_SQL})
      UNION ALL
      -- sub-shingle fallback, mirroring the operator: batch docs absent
      -- from sig_b (< n words -> no shingles) match on exact text md5
      SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id
      FROM batch b JOIN documents c ON md5(b.text) = md5(c.text)
      WHERE b.doc_id NOT IN (SELECT doc_id FROM sig_b))),
    agg AS (SELECT batch_id, COUNT(*) AS n_matches,
                   MIN(corpus_id) AS first_match
            FROM hits GROUP BY 1)
    SELECT b.doc_id,
           COALESCE(a.n_matches, 0) AS n_matches,
           a.first_match,
           COALESCE(a.n_matches, 0) = 0 AS accepted
    FROM batch b LEFT JOIN agg a ON b.doc_id = a.batch_id
    """


def _ingest_batch(docs: DataFrame) -> DataFrame:
    """The synthetic new batch of ``_INC_BATCH_SQL``: 10% of the corpus
    re-ingested verbatim (must collide) and 10% with word order reversed
    (novel shingle sets)."""
    verbatim = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    reversed_docs = docs.filter(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat_ws(" ", F.reverse(F.split(F.col("text"), " "))).alias("text"),
    )
    return verbatim.unionByName(reversed_docs)


@register("incremental_dedup_batch", oracle=_INC_ORACLE_SQL)
def q_incremental_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup gate (operators/dedup.py::
    incremental_minhash_dedup): the synthetic new batch is MinHash-banded
    against the corpus signatures ONLY (batch × corpus, never corpus ×
    corpus). The continuous-ingest counterpart of the backfill pair sweep
    (minhash_lsh_candidates): per-batch cost is |batch| signatures + band
    collisions against a persistable corpus signature table."""
    docs = _t(spark, sf_dir, "documents")
    return D.incremental_minhash_dedup(docs, _ingest_batch(docs))


@register("incremental_dedup_via_state", oracle=_INC_ORACLE_SQL)
def q_incremental_dedup_via_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME ingest gate as ``incremental_dedup_batch`` — same batch,
    same verdict schema, same oracle — but the corpus side enters as the
    PERSISTED signature-state table (operators/dedup.py::dedup_state,
    ``corpus=None``): raw corpus text is never touched, which is the
    literal 100 TB posture the streaming curation gate runs
    (streaming/ingest_stream.py::curate_batch persists/rebuilds this
    state per micro-batch). A green hash here is the proof that the
    state-fed gate is verdict-identical to the text-fed gate."""
    docs = _t(spark, sf_dir, "documents")
    return D.incremental_minhash_dedup(
        None, _ingest_batch(docs), corpus_state=D.dedup_state(docs)
    )


_MINHASH_INTER_SQL = f"""
    sig AS (SELECT doc_id, {_SIG_COLS_SQL} FROM sh GROUP BY doc_id),
    cand AS ({_BAND_JOINS_SQL}),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY 1, 2)"""


@register(
    "minhash_verified_dupes",
    oracle=f"""
    WITH {_TOKS_CTE}, {_SHINGLES_CTE},{_MINHASH_INTER_SQL}
    SELECT id_a, id_b, {_JACCARD_SQL} AS jaccard
    {_JACCARD_FROM_SQL}
    WHERE {_JACCARD_SQL} >= 0.7
    """,
)
def q_minhash_verified_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production two-stage dedup (``dedup.minhash_verified_pairs``):
    MinHash-LSH candidates, exact Jaccard verified only over them."""
    return D.minhash_verified_pairs(_t(spark, sf_dir, "documents"))


@register(
    "doc_fingerprint_groups",
    oracle=f"""
    WITH {_TOKS_CTE}
    SELECT md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fingerprint,
           COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id
    FROM toks GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def q_doc_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of the sorted distinct token set —
    catches word-order-permuted duplicates."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(TX.doc_fingerprint(TX.words(F.col("text"))).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_id"))
        .filter(F.col("n_docs") > 1)
    )


@register(
    "token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split(lower(text), ' '))) AS BIGINT) AS n_distinct,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_alnum_tokens
    FROM documents
    """,
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, chars, regex
    (BPE-ish pre-tokenizer) tokens."""
    docs = _t(spark, sf_dir, "documents")
    w = TX.words(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(w).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(w)).cast("long").alias("n_distinct"),
        F.length("text").cast("long").alias("n_chars_calc"),
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0)))
        .cast("long")
        .alias("n_alnum_tokens"),
    )


# Winnowing (Schleimer et al., SIGMOD 2003): k-gram rolling hashes +
# per-window minimum. k/w chosen for the synthetic corpus vocabulary
# (20-char grams are selective where 8-char grams collide massively);
# max_df guards the pair join against stop-fingerprints at scale.
_WINNOW_K, _WINNOW_W = 20, 12
_WINNOW_MAXDF, _WINNOW_MIN_SHARED = 8, 10
_WINNOW_CTE = f"""
    wt AS (SELECT doc_id, lower(text) AS tx FROM documents
           WHERE length(lower(text)) >= {_WINNOW_K + _WINNOW_W - 1}),
    wg AS (SELECT doc_id, list_transform(range(1, length(tx)-{_WINNOW_K - 1}+1),
             i -> substr(md5(substr(tx, CAST(i AS INT), {_WINNOW_K})), 1, 16)) AS hs
           FROM wt),
    wf AS (SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_kgrams,
                  list_distinct(list_transform(range(1, len(hs)-{_WINNOW_W - 1}+1),
                    j -> list_min(hs[CAST(j AS INT):CAST(j+{_WINNOW_W - 1} AS INT)]))) AS fps
           FROM wg)"""


@register(
    "winnow_fingerprint_stats",
    oracle=f"""
    WITH {_WINNOW_CTE}
    SELECT doc_id, n_kgrams, CAST(len(fps) AS BIGINT) AS n_fp,
           list_min(fps) AS min_fp
    FROM wf
    """,
)
def q_winnow_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint density per document: the stored-fingerprint
    count is ~1/w of the k-gram count — the compression the scheme buys
    at corpus scale. One scan, zero shuffles, no UDF (the window minimum
    is a lexicographic array_min over named-column hash arrays)."""
    fps = TX.winnow_fingerprint_table(
        _t(spark, sf_dir, "documents"), _WINNOW_K, _WINNOW_W
    )
    return fps.select(
        "doc_id",
        "n_kgrams",
        F.size("fps").cast("long").alias("n_fp"),
        F.array_min("fps").alias("min_fp"),
    )


@register(
    "winnow_near_dup",
    oracle=f"""
    WITH {_WINNOW_CTE},
    we AS (SELECT doc_id, unnest(fps) AS fp FROM wf),
    wpruned AS (SELECT fp FROM we GROUP BY fp HAVING count(*) > {_WINNOW_MAXDF}),
    wee AS (SELECT we.doc_id, we.fp FROM we ANTI JOIN wpruned USING (fp))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM wee a JOIN wee b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= {_WINNOW_MIN_SHARED}
    """,
)
def q_winnow_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level near-duplicate pairs via shared winnowing
    fingerprints (``dedup.winnow_pairs``) — the fourth dedup family
    (shingle-Jaccard, MinHash, SimHash are word-level)."""
    return D.winnow_pairs(
        _t(spark, sf_dir, "documents"), _WINNOW_K, _WINNOW_W,
        _WINNOW_MAXDF, _WINNOW_MIN_SHARED,
    )


@register(
    "lang_quality_score",
    oracle=f"""
    WITH {_TOKS_CTE}
    SELECT doc_id,
           CAST(len(list_filter(w, x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
             / CAST(greatest(len(w), 1) AS DOUBLE) AS stop_ratio,
           CAST(len(list_distinct(w)) AS DOUBLE)
             / CAST(greatest(len(w), 1) AS DOUBLE) AS distinct_ratio,
           CASE WHEN CAST(len(list_filter(w, x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
                     / CAST(greatest(len(w), 1) AS DOUBLE) >= 0.05
                THEN 'en' ELSE 'unknown' END AS lang_pred
    FROM toks
    """,
)
def q_lang_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword ratio) + lexical-diversity quality
    signals — the text-analysis columns of a training-data pipeline."""
    docs = _t(spark, sf_dir, "documents")
    w = TX.words(F.col("text"))
    stop = TX.stopword_ratio(w)
    return docs.select(
        "doc_id",
        stop.alias("stop_ratio"),
        TX.distinct_ratio(w).alias("distinct_ratio"),
        F.when(stop >= 0.05, F.lit("en")).otherwise(F.lit("unknown")).alias("lang_pred"),
    )


@register(
    "pack_docs_budget",
    oracle="""
    SELECT source, doc_id,
           CAST(CASE WHEN cum <= 1800 THEN n_chars
                     ELSE 1800 - (cum - n_chars) END AS BIGINT) AS n_chars
    FROM (
      SELECT source, doc_id, n_chars,
             SUM(n_chars) OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM documents)
    WHERE cum <= 1800 OR 1800 - (cum - n_chars) > 100
    """,
)
def q_pack_docs_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-budget packing (1800 chars, reference max_context_chars) per
    source group — running-sum window + filter, with the min-remainder rule
    (internal_db_service.py:386-391): the first overflowing doc survives
    truncated to the remaining budget when >100 chars remain."""
    docs = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", F.col("n_chars").cast("long").alias("n_chars")
    )
    return TX.pack_by_budget(
        docs,
        "source",
        F.col("n_chars"),
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
        budget=1800,
        clip_col="n_chars",
    )


@register(
    "doc_template_assembly",
    oracle="""
    SELECT doc_id,
           '[id=' || CAST(doc_id AS VARCHAR) || '] [src=' || source || '] '
             || CASE WHEN length(text) > 120 THEN substr(text, 1, 120) || '…'
                     ELSE text END AS doc_line
    FROM documents
    """,
)
def q_doc_template_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 doc assembly + truncation: marker-formatted context lines
    (enhanced:800-808 《S{i}》 analog)."""
    docs = _t(spark, sf_dir, "documents")
    truncated = F.when(
        F.length("text") > 120, F.concat(F.substring("text", 1, 120), F.lit("…"))
    ).otherwise(F.col("text"))
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("[id="),
            F.col("doc_id").cast("string"),
            F.lit("] [src="),
            F.col("source"),
            F.lit("] "),
            truncated,
        ).alias("doc_line"),
    )


# ---------------------------------------------------------------------------
# Time-series pipeline (SURVEY §1.5/§2.5 W3-W8, A4/A6) over events
# ---------------------------------------------------------------------------

# Shared oracle CTEs: per-user daily-mean series on a dense date spine.
_DAILY_CTE = """
daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(value) AS val
  FROM events GROUP BY 1, 2),
spine AS (
  SELECT user_id,
         CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1)),
series AS (
  SELECT s.user_id, s.day, d.val
  FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day)
"""


def _daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    from backend_fastapi_spark.operators import timeseries as TS

    return TS.daily_resample(_t(spark, sf_dir, "events"), "user_id", "ts", "value")


@register(
    "ts_daily_resample",
    oracle=f"""
    WITH {_DAILY_CTE}
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day, val FROM series
    """,
)
def q_ts_daily_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 resample('D'): per-user daily mean on a dense date spine (gap days
    NULL) — the input shape for interpolation/windowing."""
    return _daily_series(spark, sf_dir).select(
        "user_id", F.date_format("day", "yyyy-MM-dd").alias("day"), "val"
    )


@register(
    "ts_interpolated",
    oracle=f"""
    WITH {_DAILY_CTE},
    marked AS (
      SELECT user_id, day, val,
        last_value(val IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN val IS NOT NULL THEN day END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        first_value(val IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN val IS NOT NULL THEN day END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY day
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM series)
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
      CASE WHEN val IS NOT NULL THEN val
           WHEN pv IS NOT NULL AND nv IS NOT NULL
                AND date_diff('day', pd, nd) <= 3
           THEN pv + (nv - pv) * (CAST(date_diff('day', pd, day) AS DOUBLE)
                                  / CAST(date_diff('day', pd, nd) AS DOUBLE))
      END AS val_filled
    FROM marked
    """,
)
def q_ts_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 bounded interpolation: linear fill for gaps ≤ 3 days, longer gaps
    and edges stay NULL."""
    from backend_fastapi_spark.operators import timeseries as TS

    out = TS.bounded_interpolate(
        _daily_series(spark, sf_dir), "user_id", max_gap=3
    )
    return out.select(
        "user_id", F.date_format("day", "yyyy-MM-dd").alias("day"), "val_filled"
    )


@register(
    "ts_longest_run",
    oracle=f"""
    WITH {_DAILY_CTE},
    nn AS (SELECT user_id, day FROM series WHERE val IS NOT NULL),
    islands AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER)
               AS island
      FROM nn),
    runs AS (
      SELECT user_id, island, COUNT(*) AS run_len, MIN(day) AS run_start
      FROM islands GROUP BY 1, 2),
    best AS (
      SELECT user_id, run_len, run_start,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY run_len DESC, run_start ASC) AS rn
      FROM runs)
    SELECT user_id, run_len, strftime(run_start, '%Y-%m-%d') AS run_start
    FROM best WHERE rn = 1
    """,
)
def q_ts_longest_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 gaps-and-islands: longest contiguous observed run per user."""
    from backend_fastapi_spark.operators import timeseries as TS

    out = TS.longest_valid_run(_daily_series(spark, sf_dir), "user_id")
    return out.select(
        "user_id", "run_len", F.date_format("run_start", "yyyy-MM-dd").alias("run_start")
    )


@register(
    "ts_seasonal_features",
    oracle="""
    WITH days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day FROM events)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(date_part('doy', day) AS INTEGER) AS doy,
           CAST(date_part('isodow', day) - 1 AS INTEGER) AS dow,
           ROUND(sin(CAST(date_part('doy', day) AS DOUBLE) * (2 * pi() / 365.25)) * 1e6) / 1e6 AS sin_doy,
           ROUND(cos(CAST(date_part('doy', day) AS DOUBLE) * (2 * pi() / 365.25)) * 1e6) / 1e6 AS cos_doy,
           ROUND(sin(CAST(date_part('isodow', day) - 1 AS DOUBLE) * (2 * pi() / 7)) * 1e6) / 1e6 AS sin_dow,
           ROUND(cos(CAST(date_part('isodow', day) - 1 AS DOUBLE) * (2 * pi() / 7)) * 1e6) / 1e6 AS cos_dow
    FROM days
    """,
)
def q_ts_seasonal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal sin/cos features with the pandas dow convention (0=Monday) —
    the SURVEY §7 dayofweek off-by-one handled explicitly."""
    from backend_fastapi_spark.operators import timeseries as TS

    days = (
        _t(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"))
        .distinct()
    )
    out = TS.seasonal_features(days)
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "doy",
        "dow",
        "sin_doy",
        "cos_doy",
        "sin_dow",
        "cos_dow",
    )


@register(
    "ts_sliding_windows",
    oracle=f"""
    WITH {_DAILY_CTE},
    win AS (
      SELECT user_id, day,
             list(val) OVER (PARTITION BY user_id ORDER BY day
                             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS window_vals,
             COUNT(val) OVER (PARTITION BY user_id ORDER BY day
                              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS n,
             MIN(day) OVER (PARTITION BY user_id ORDER BY day
                            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS d0
      FROM series)
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           array_to_string(list_transform(window_vals,
               v -> CAST(CAST(ROUND(v * 1e6) AS BIGINT) AS VARCHAR)), ',') AS window_csv
    FROM win WHERE n = 7 AND date_diff('day', d0, day) = 6
    """,
)
def q_ts_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 sliding lookback windows (7 days, fully observed) — the (X, y)
    sample generator as a window collect.

    The window is emitted as a comma-joined fixed-point (1e-6) integer
    string: ARRAY output columns are not hashable by the driver's pandas
    canonicalizer, and int64 fixed-point strings are bit-identical across
    Spark and DuckDB (double formatting is not).
    """
    from backend_fastapi_spark.operators import timeseries as TS

    out = TS.sliding_windows(_daily_series(spark, sf_dir), "user_id", lookback=7)
    return out.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.array_join(
            F.expr(
                "transform(window_vals,"
                " v -> CAST(CAST(ROUND(v * 1e6) AS BIGINT) AS STRING))"
            ),
            ",",
        ).alias("window_csv"),
    )


@register(
    "ts_ratio_split",
    oracle=f"""
    WITH {_DAILY_CTE}
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY day) * 10
                     <= COUNT(*) OVER (PARTITION BY user_id) * 7 THEN 'train'
                WHEN row_number() OVER (PARTITION BY user_id ORDER BY day) * 10
                     <= COUNT(*) OVER (PARTITION BY user_id) * 9 THEN 'val'
                ELSE 'test' END AS split
    FROM series
    """,
)
def q_ts_ratio_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 positional 7:2:1 split per series, integer arithmetic only."""
    from backend_fastapi_spark.operators import timeseries as TS

    out = TS.ratio_split(_daily_series(spark, sf_dir), "user_id")
    return out.select(
        "user_id", F.date_format("day", "yyyy-MM-dd").alias("day"), "split"
    )


@register(
    "ts_forecast_metrics",
    oracle=f"""
    WITH {_DAILY_CTE},
    pairs AS (
      SELECT user_id, day, val AS actual,
             lag(val) OVER (PARTITION BY user_id ORDER BY day) AS pred
      FROM series WHERE val IS NOT NULL),
    terms AS (
      SELECT user_id,
             CAST(ROUND((pred - actual) * (pred - actual) * 1e6) AS BIGINT) AS sq_q,
             CAST(ROUND((abs(pred - actual) /
               (CASE WHEN (abs(actual) + abs(pred)) / 2 = 0 THEN 1e-8
                     ELSE (abs(actual) + abs(pred)) / 2 END)) * 1e6) AS BIGINT) AS smape_q
      FROM pairs WHERE pred IS NOT NULL)
    SELECT user_id,
           sqrt((CAST(SUM(sq_q) AS DOUBLE) / 1e6) / COUNT(*)) AS rmse,
           (CAST(SUM(smape_q) AS DOUBLE) / 1e6) / COUNT(*) AS smape,
           COUNT(*) AS n_obs
    FROM terms GROUP BY user_id
    """,
)
def q_ts_forecast_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 RMSE + sMAPE (zero-denominator guard) of a naive lag-1 forecast —
    decimal-accumulated, order-independent."""
    from backend_fastapi_spark.operators import timeseries as TS

    series = _daily_series(spark, sf_dir).filter(F.col("val").isNotNull())
    w = Window.partitionBy("user_id").orderBy("day")
    pairs = (
        series.withColumn("pred", F.lag("val").over(w))
        .filter(F.col("pred").isNotNull())
        .withColumnRenamed("val", "actual")
    )
    return TS.forecast_metrics(pairs, "user_id", "actual", "pred")


# ---------------------------------------------------------------------------
# Multidim aggregation (rollup/cube/pivot — free via Spark, SURVEY §2.4 note),
# JSON extraction, sessionization, event-time windows (batch analogs of §2.11)
# ---------------------------------------------------------------------------

@register(
    "rollup_region_nation",
    oracle=f"""
    SELECT r_name AS region, n_name AS nation,
           {SQL_DSUM('o_totalprice')} AS revenue, COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region → nation → grand total)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    nation = _t(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
    region = _t(spark, sf_dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
    joined = R.star_join(
        orders,
        [(customer, ["o_custkey"]), (nation, ["c_nationkey"]), (region, ["n_regionkey"])],
    )
    return (
        joined.withColumnRenamed("r_name", "region")
        .withColumnRenamed("n_name", "nation")
        .rollup("region", "nation")
        .agg(dsum("o_totalprice").alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions."""
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "pivot_priority_by_status",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_pivot_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (status columns per priority row); missing combos filled 0 to
    match conditional-count semantics."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["O", "F", "P"])
    )


@register(
    "json_extract_stats",
    oracle="""
    SELECT event_type,
           MIN(CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT)) AS min_k,
           MAX(CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT)) AS max_k,
           CAST(SUM(CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT))
                AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
    """,
)
def q_json_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 JSON extraction: pull props.k and aggregate (regexp form keeps
    both engines on identical semantics; Spark's native path is
    get_json_object/from_json)."""
    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), '"k":\\s*(-?\\d+)', 1).cast("long")
    return ev.groupBy("event_type").agg(
        F.min(k).alias("min_k"), F.max(k).alias("max_k"), F.sum(k).alias("sum_k")
    )


@register(
    "variant_extract_stats",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (WHERE k > 50) AS BIGINT) AS n_hot,
           CAST(COUNT(DISTINCT CASE WHEN k > 50 THEN user_id END) AS BIGINT)
             AS n_hot_users,
           CAST(SUM(CASE WHEN k > 50 THEN k ELSE 0 END) AS BIGINT) AS sum_hot_k
    FROM (SELECT event_type, user_id,
                 CAST(json_extract(props, '$.k') AS BIGINT) AS k
          FROM events)
    GROUP BY event_type
    """,
)
def q_variant_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 JSON via Spark 4's VARIANT type: parse_json(props) ingests
    the payload once into the binary variant encoding, variant_get
    extracts typed fields with codegen (the modern replacement for
    per-access get_json_object string re-parsing — at 100 TB a
    semi-structured column is parsed ONCE at ingest and every
    downstream extraction is a binary offset lookup). Same answer
    shape as json_extract_stats but through the VARIANT path, so the
    DuckDB JSON oracle hash-checks Spark's variant encode/decode end
    to end: per event_type, total events, hot (k>50) events, distinct
    hot users, hot-k sum."""
    ev = _t(spark, sf_dir, "events")
    # try_parse_json: a single malformed props row degrades to NULL
    # (matching the oracle's json_extract semantics) instead of failing
    # the whole aggregation the way strict parse_json would.
    k = F.variant_get(F.try_parse_json(F.col("props")), "$.k", "bigint")
    return (
        ev.select("event_type", "user_id", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count(F.when(F.col("k") > 50, 1)).cast("long").alias("n_hot"),
            F.countDistinct(F.when(F.col("k") > 50, F.col("user_id")))
            .cast("long")
            .alias("n_hot_users"),
            F.sum(F.when(F.col("k") > 50, F.col("k")).otherwise(0))
            .cast("long")
            .alias("sum_hot_k"),
        )
    )


@register(
    "sessionize_events",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
                  ELSE 0 END AS is_new
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts, event_id,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM marked)
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
    FROM sess GROUP BY user_id, session_id
    """,
)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) — the batch analog of a
    session window; one shuffle on user_id, islands via running sum."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros("ts")).over(w)
    is_new = F.when(
        prev_us.isNull() | ((F.unix_micros("ts") - prev_us) > 1_800_000_000), 1
    ).otherwise(0)
    wc = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = ev.withColumn("_new", is_new).withColumn(
        "session_id", F.sum("_new").over(wc)
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
    )


@register(
    "tumbling_hourly_counts",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n, {SQL_DSUM('value', 6)} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_tumbling_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-analog: tumbling 1h event-time window aggregate (batch form of the
    Structured Streaming windowed count)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", 6).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "sliding_window_counts",
    oracle="""
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, COUNT(*) AS n
    FROM events,
         LATERAL (SELECT time_bucket(INTERVAL '30 minutes', ts)
                         - o.off * INTERVAL '30 minutes' AS ws
                  FROM (VALUES (0), (1)) o(off)) w
    GROUP BY ws
    """,
)
def q_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/30m event-time windows (each event in exactly 2 windows)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
        )
    )


@register(
    "ar_rollout_forecast",
    oracle=f"""
    WITH {_DAILY_CTE},
    stats AS (
      SELECT user_id,
             (CAST(SUM(CAST(ROUND(val * 1e6) AS BIGINT)) AS DOUBLE) / 1e6)
               / COUNT(val) AS m
      FROM series WHERE val IS NOT NULL GROUP BY 1),
    lastv AS (
      SELECT user_id, val AS l FROM (
        SELECT user_id, val,
               row_number() OVER (PARTITION BY user_id ORDER BY day DESC) AS rn
        FROM series WHERE val IS NOT NULL) WHERE rn = 1),
    base AS (SELECT s.user_id, l, m FROM stats s JOIN lastv v ON s.user_id = v.user_id),
    p1 AS (SELECT user_id, l, m, 0.8 * l + 0.2 * m AS p FROM base),
    p2 AS (SELECT user_id, l, m, 0.8 * p + 0.2 * m AS p FROM p1),
    p3 AS (SELECT user_id, l, m, 0.8 * p + 0.2 * m AS p FROM p2)
    SELECT user_id, 1 AS step, p AS pred FROM p1
    UNION ALL SELECT user_id, 2 AS step, p AS pred FROM p2
    UNION ALL SELECT user_id, 3 AS step, p AS pred FROM p3
    """,
)
def q_ar_rollout_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 recursive rollout: per-series sequential 3-step AR(1) forecast
    (p ← 0.8·p + 0.2·mean) via applyInPandas — the inherently-iterative
    operator runs as one Arrow batch per series; priors (last value, mean)
    are computed in Spark expressions so the Python stage is pure rollout.
    """
    import pandas as pd

    series = _daily_series(spark, sf_dir).filter(F.col("val").isNotNull())
    w = Window.partitionBy("user_id").orderBy(F.col("day").desc())
    last = (
        series.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", F.col("val").alias("l"))
    )
    mean = series.groupBy("user_id").agg(
        (
            (F.sum(F.round(F.col("val") * F.lit(1e6), 0).cast("long")).cast("double") / F.lit(1e6))
            / F.count("val")
        ).alias("m")
    )
    base = last.join(mean, "user_id")

    def rollout(pdf):
        rows = []
        for _, r in pdf.iterrows():
            p = r["l"]
            for step in (1, 2, 3):
                p = 0.8 * p + 0.2 * r["m"]
                rows.append((int(r["user_id"]), step, p))
        return pd.DataFrame(rows, columns=["user_id", "step", "pred"])

    return base.groupBy("user_id").applyInPandas(
        rollout, schema="user_id long, step int, pred double"
    )


# ---------------------------------------------------------------------------
# Flagship #2: full RAG retrieval pipeline (SURVEY §3.1 stages a-d)
# ---------------------------------------------------------------------------

def _RAG_ORACLE_SQL(max_qid: int) -> str:
    """Oracle for the batch RAG pipeline: every stage windowed per q_id —
    the SQL twin of the partitioned-by-q_id DataFrame plan."""
    return f"""
    WITH chunks AS (
      SELECT d.doc_id, d.source, d.text, e.embedding
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
    q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
          WHERE vec_id < {max_qid}),
    scored AS (
      SELECT q_id, doc_id, source, text,
             CAST({_DOT_I64_SQL.format(a='embedding', b='qe')} AS DOUBLE) / 1e12 AS sim
      FROM chunks, q WHERE doc_id <> q_id),
    fetched AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY sim DESC, doc_id ASC) AS frn
        FROM scored) WHERE frn <= 20),
    floored AS (SELECT * FROM fetched WHERE sim >= 0.1),
    margined AS (
      SELECT * FROM (
        SELECT *, GREATEST(MAX(sim) OVER (PARTITION BY q_id) - 0.3,
                           MAX(sim) OVER (PARTITION BY q_id) * 0.7) AS c
        FROM floored) WHERE sim >= c),
    anchored AS (
      SELECT * FROM margined
      WHERE lower(text) LIKE '%vector%' OR lower(text) LIKE '%stream%'
            OR lower(text) LIKE '%merge%'),
    grp AS (
      SELECT *, row_number() OVER (PARTITION BY q_id, source
                                   ORDER BY sim DESC, doc_id ASC) AS grp_rank
      FROM anchored),
    capped AS (SELECT * FROM grp WHERE grp_rank <= 3),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY grp_rank ASC, sim DESC, doc_id ASC)
                  AS ctx_rank
      FROM capped),
    topk AS (SELECT * FROM ranked WHERE ctx_rank <= 5),
    packed AS (
      SELECT *, substr(text, 1, 200) AS snip,
             SUM(length(substr(text, 1, 200)))
               OVER (PARTITION BY q_id ORDER BY ctx_rank
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM topk)
    SELECT q_id, ctx_rank, doc_id, source, sim,
           '《S' || CAST(ctx_rank AS VARCHAR) || '》 [id=' || CAST(doc_id AS VARCHAR)
             || '] [src=' || source || '] '
             || CASE WHEN cum <= 600 THEN snip
                     ELSE substr(snip, 1, CAST(600 - (cum - length(snip)) AS BIGINT)) END AS line
    FROM packed WHERE cum <= 600 OR 600 - (cum - length(snip)) > 100
    """


def _rag_query(spark: SparkSession, sf_dir: str, max_qid: int) -> DataFrame:
    from backend_fastapi_spark.plans.rag_retrieval import rag_retrieve

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    emb = _t(spark, sf_dir, "embeddings")
    chunks = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id", "source", "text", "embedding"
    )
    return rag_retrieve(
        chunks,
        _query_vectors(spark, sf_dir, max_qid),
        anchors=["vector", "stream", "merge"],
    )


@register("rag_retrieval_pipeline", oracle=_RAG_ORACLE_SQL(1))
def q_rag_retrieval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 stages a-d in one lazy plan: over-fetch kNN → floor → margin cut
    → anchor filter → per-source cap + round-robin → budget pack → markers."""
    return _rag_query(spark, sf_dir, 1)


@register("rag_retrieval_batch", oracle=_RAG_ORACLE_SQL(4))
def q_rag_retrieval_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME retrieval plan serving 4 queries at once — every window
    partitioned by q_id, so batch size changes nothing but parallelism
    (the reference would loop its single-query path)."""
    return _rag_query(spark, sf_dir, 4)


# ---------------------------------------------------------------------------
# Sources (S5/S6) and approximate/embedded paths (rows-only where the
# semantics aren't ANSI-SQL-expressible)
# ---------------------------------------------------------------------------

@register(
    "grocery_best_store",
    oracle="""
    WITH flat AS (
      SELECT category, product, unit, s.name AS store, s.price AS price
      FROM (SELECT category, product, unit, unnest(stores) AS s
            FROM read_json_auto('/root/repo/data/grocery_deals.json'))),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY product
                                   ORDER BY price ASC, store ASC) AS rn
      FROM flat),
    agg AS (
      SELECT product, MIN(price) AS min_price, MAX(price) AS max_price,
             COUNT(*) AS n_stores
      FROM flat GROUP BY 1)
    SELECT r.category, r.product, r.unit, r.store AS best_store,
           a.min_price, a.max_price, a.n_stores
    FROM ranked r JOIN agg a ON r.product = a.product WHERE rn = 1
    """,
)
def q_grocery_best_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/§1.4: nested JSON scan → explode(stores) → per-product best store
    + min/max aggregates (grocery_rag_service.py:27-86)."""
    from backend_fastapi_spark.sources.json_source import read_grocery_deals

    flat = read_grocery_deals(spark)
    w = Window.partitionBy("product").orderBy(
        F.col("price").asc(), F.col("store").asc()
    )
    best = (
        flat.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("category", "product", "unit", F.col("store").alias("best_store"))
    )
    agg = flat.groupBy("product").agg(
        F.min("price").alias("min_price"),
        F.max("price").alias("max_price"),
        F.count(F.lit(1)).alias("n_stores"),
    )
    return best.join(agg, "product").select(
        "category", "product", "unit", "best_store", "min_price", "max_price", "n_stores"
    )


@register("fruit_prices_daily", oracle=None)  # cp949 decode: not SQL-expressible
def q_fruit_prices_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/§1.5: cp949 CSV with encoding fallback → comma-strip numeric parse
    + dotted date parse → daily mean resample (rows-only check; correctness
    covered by tests/test_sources.py against python-computed goldens)."""
    from backend_fastapi_spark.sources.csv_source import (
        parse_fruit_prices,
        read_csv_with_fallback,
    )

    raw = read_csv_with_fallback(spark, "/root/repo/data/fruit_prices.csv")
    parsed = parse_fruit_prices(raw)
    return parsed.groupBy("series_id", "date").agg(
        (F.sum(F.col("price").cast("decimal(30,6)")).cast("double") / F.count("price")).alias(
            "price"
        )
    )


@register(
    "market_chart_bars",
    oracle="""
    WITH raw AS (
      SELECT payload FROM read_json(
        '/root/repo/data/market_payloads.jsonl',
        format='newline_delimited',
        columns={category: 'VARCHAR', payload: 'VARCHAR'})),
    p AS (
      SELECT
        json_extract_string(payload, '$.chart.result[0].meta.symbol') AS symbol,
        from_json(json_extract(payload, '$.chart.result[0].timestamp'),
                  '["BIGINT"]') AS ts_arr,
        from_json(json_extract(payload,
                  '$.chart.result[0].indicators.quote[0].open'),
                  '["DOUBLE"]') AS open_arr,
        from_json(json_extract(payload,
                  '$.chart.result[0].indicators.quote[0].high'),
                  '["DOUBLE"]') AS high_arr,
        from_json(json_extract(payload,
                  '$.chart.result[0].indicators.quote[0].low'),
                  '["DOUBLE"]') AS low_arr,
        from_json(json_extract(payload,
                  '$.chart.result[0].indicators.quote[0].close'),
                  '["DOUBLE"]') AS close_arr
      FROM raw)
    SELECT symbol, unnest(ts_arr) AS ts_epoch, unnest(open_arr) AS open,
           unnest(high_arr) AS high, unnest(low_arr) AS low,
           unnest(close_arr) AS close
    FROM p ORDER BY symbol, ts_epoch
    """,
)
def q_market_chart_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 promoted to driver hash-green: the HTTP-finance payload parse
    (sources/feeds.py::parse_chart_payload — Yahoo-chart JSON, parallel
    arrays zipped positionally) over the committed fixture, with a
    DuckDB twin that parses THE SAME nested JSON via json_extract +
    parallel unnest. Timestamps compare as epoch seconds (BIGINT) so no
    timezone/dtype surface is in play; OHLC doubles come from both
    engines parsing identical decimal literals. The fetch itself stays
    an external boundary (SURVEY §2.1) — this certifies the parse."""
    from backend_fastapi_spark.sources.feeds import parse_chart_payload

    payloads = spark.read.schema("category string, payload string").json(
        "/root/repo/data/market_payloads.jsonl"
    )
    bars = parse_chart_payload(payloads)
    return bars.select(
        "symbol",
        F.col("ts").cast("long").alias("ts_epoch"),
        "open", "high", "low", "close",
    ).orderBy("symbol", "ts_epoch")


def _bootstrap_audit_oracle_sql() -> str:
    # Mirror of PersonalStore.bootstrap's (user_id, seq) grid arithmetic
    # (personal.py): same id formulas, same name/title derivations — the
    # oracle re-derives every row the bootstrap materializes and audits
    # the identical aggregates.
    def grid(per_user: int) -> str:
        return (
            "(SELECT u, s FROM (SELECT unnest(generate_series(1, 5)) AS u),"
            f" (SELECT unnest(generate_series(0, {per_user - 1})) AS s))"
        )

    d_name = "(['hypertension','diabetes','asthma'])[((u+s)%3)+1]"
    m_name = "(['metformin','lisinopril','inhaler'])[((u+s)%3)+1]"
    return f"""
    SELECT 'calendar_events' AS table_name, COUNT(*) AS n_rows,
           COUNT(DISTINCT u) AS n_users,
           CAST(SUM(u*100+s) AS BIGINT) AS id_sum,
           CAST(SUM(length('event-' || u || '-' || s)) AS BIGINT)
             AS label_chars
    FROM {grid(3)}
    UNION ALL
    SELECT 'diseases', COUNT(*), COUNT(DISTINCT u),
           CAST(SUM(u*10+s) AS BIGINT),
           CAST(SUM(length({d_name})) AS BIGINT)
    FROM {grid(2)}
    UNION ALL
    SELECT 'finance_items', COUNT(*), COUNT(DISTINCT u),
           CAST(SUM(u*100+s) AS BIGINT),
           CAST(SUM(length('asset-' || u || '-' || s)) AS BIGINT)
    FROM {grid(4)}
    UNION ALL
    SELECT 'medications', COUNT(*), COUNT(DISTINCT u),
           CAST(SUM(u*10+s) AS BIGINT),
           CAST(SUM(length({m_name})) AS BIGINT)
    FROM {grid(2)}
    UNION ALL
    SELECT 'notifications', COUNT(*), COUNT(DISTINCT u),
           CAST(SUM(u*100+s) AS BIGINT),
           CAST(SUM(length('notif-' || u || '-' || s)) AS BIGINT)
    FROM {grid(4)}
    ORDER BY table_name
    """


@register("bootstrap_personal_store", oracle=_bootstrap_audit_oracle_sql())
def q_bootstrap_personal_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14 promoted to driver hash-green (VERDICT r08 directive #6): the
    in-memory bootstrap (personal.py::PersonalStore.bootstrap — the
    Spark-native analog of the reference's seeded assistant state,
    setup_demo_data.py / insert_sample_data.sql) audited table by table.
    The seed is pure (user_id, seq) grid arithmetic over spark.range —
    no RNG, no clock — so a DuckDB generate_series twin re-derives every
    row and both engines aggregate identical (n_rows, n_users, id_sum,
    label_chars) per table. Certifies the id formulas, the name/title
    derivations, and that a 10^9-user bootstrap stays a distributed
    range, not a driver literal."""
    from backend_fastapi_spark.personal import PersonalStore

    store = PersonalStore.bootstrap(spark, n_users=5)

    def audit(df: DataFrame, name: str, id_col: str, label_col: str):
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(id_col).alias("id_sum"),
            F.sum(F.length(label_col)).alias("label_chars"),
        )

    parts = [
        audit(store.calendar_events, "calendar_events", "event_id", "title"),
        audit(store.diseases, "diseases", "disease_id", "name"),
        audit(store.finance_items, "finance_items", "item_id", "name"),
        audit(store.medications, "medications", "med_id", "name"),
        audit(store.notifications, "notifications", "notification_id", "title"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("table_name")


def _tool_episode_oracle_sql() -> str:
    # CTE twin of the scripted tool-calling episode: relational tools
    # re-derive from the orders/documents views, personal-store tools from
    # the same (user_id, seq) generate_series grid arithmetic the
    # bootstrap oracle already certifies (personal.py::PersonalStore).
    grid2 = ("(SELECT u, s FROM (SELECT unnest(generate_series(1, 5)) AS u),"
             " (SELECT unnest(generate_series(0, 1)) AS s))")
    grid3 = ("(SELECT u, s FROM (SELECT unnest(generate_series(1, 5)) AS u),"
             " (SELECT unnest(generate_series(0, 2)) AS s))")
    grid4 = ("(SELECT u, s FROM (SELECT unnest(generate_series(1, 5)) AS u),"
             " (SELECT unnest(generate_series(0, 3)) AS s))")
    return f"""
    WITH g2 AS {grid2},
    s1 AS (
      SELECT CAST(1 AS BIGINT) AS n_rows,
             COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) * 100
                           AS BIGINT), 0) + COUNT(*) AS checksum
      FROM orders WHERE o_custkey = 19),
    s2src AS (
      SELECT o_orderkey FROM orders WHERE o_custkey = 19
      ORDER BY o_orderdate DESC, o_orderkey ASC LIMIT 5),
    s2 AS (SELECT COUNT(*) AS n_rows,
                  COALESCE(CAST(SUM(o_orderkey) AS BIGINT), 0) AS checksum
           FROM s2src),
    s3src AS (
      SELECT doc_id, n_chars FROM documents
      WHERE instr(lower(text), 'merge') > 0
         OR instr(lower(text), 'window') > 0
      ORDER BY doc_id LIMIT 5),
    s3 AS (SELECT COUNT(*) AS n_rows,
                  COALESCE(CAST(SUM(doc_id + n_chars) AS BIGINT), 0)
                    AS checksum
           FROM s3src),
    fi AS (
      SELECT u * 100 + s AS item_id,
             (['ETF','stock','deposit','bond'])[(s % 4) + 1] AS category,
             (u + 1) * (s + 1) * 1000 AS amount
      FROM {grid4} WHERE u = 2),
    s4 AS (
      SELECT COUNT(*) AS n_rows,
             COALESCE(CAST(SUM(item_id + amount
                               + (SELECT SUM(amount) FROM fi)) AS BIGINT), 0)
               AS checksum
      FROM fi WHERE category = 'ETF'),
    ce AS (
      SELECT 'event-' || u || '-' || s AS title,
             strftime(DATE '2024-06-01' + CAST(s * 3 AS INTEGER),
                      '%Y-%m-%d') AS event_date,
             lpad(CAST((s * 5 + 9) % 24 AS VARCHAR), 2, '0') || ':00'
               AS event_time,
             (['hospital','meeting','appointment'])[(s % 3) + 1] AS event_type
      FROM {grid3} WHERE u = 3),
    added AS (
      SELECT 'dental checkup' AS title, '2024-06-04' AS event_date,
             '10:30' AS event_time, 'appointment' AS event_type),
    s5 AS (
      SELECT COUNT(*) AS n_rows,
             COALESCE(CAST(SUM(length(title) + length(event_time)
                               + length(event_type)) AS BIGINT), 0)
               AS checksum
      FROM ce WHERE event_date = '2024-06-04'),
    s6 AS (
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(length(title) + length(event_time)
                      + length(event_type)) AS BIGINT) AS checksum
      FROM added),
    ce7 AS (SELECT * FROM ce UNION ALL SELECT * FROM added),
    s7 AS (
      SELECT COUNT(*) AS n_rows,
             COALESCE(CAST(SUM(length(title) + length(event_time)
                               + length(event_type)) AS BIGINT), 0)
               AS checksum
      FROM ce7 WHERE event_date = '2024-06-04'),
    s8 AS (
      SELECT CAST(1 AS BIGINT) AS n_rows,
             CAST(100 - 10 * SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END)
                  - 2 * (SELECT COUNT(*) FROM g2 WHERE u = 2)
                  + COUNT(*) + (SELECT COUNT(*) FROM g2 WHERE u = 2)
                  AS BIGINT) AS checksum
      FROM g2 WHERE u = 2)
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS step, 'get_spend_summary' AS tool,
             n_rows, checksum FROM s1
      UNION ALL SELECT 2, 'get_recent_orders', n_rows, checksum FROM s2
      UNION ALL SELECT 3, 'search_knowledge', n_rows, checksum FROM s3
      UNION ALL SELECT 4, 'get_finance_items', n_rows, checksum FROM s4
      UNION ALL SELECT 5, 'get_calendar_events', n_rows, checksum FROM s5
      UNION ALL SELECT 6, 'add_calendar_event', n_rows, checksum FROM s6
      UNION ALL SELECT 7, 'get_calendar_events', n_rows, checksum FROM s7
      UNION ALL SELECT 8, 'get_health_status', n_rows, checksum FROM s8
      UNION ALL SELECT 9, '(no_tool_call)', CAST(0 AS BIGINT),
                CAST(0 AS BIGINT)
    ) ORDER BY step
    """


@register("tool_call_episode", oracle=_tool_episode_oracle_sql())
def q_tool_call_episode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 promoted to driver hash-green (VERDICT r09 directive #1): the
    tool-calling loop — the reference's last entry point on test-only
    evidence (tool_calling_wrapper.py:145-189 parse →
    tool_executor.py:48-85 dispatch) — run as a scripted deterministic
    episode. Each step is a raw "LLM output" string fed through the
    brace-counting TOOL_CALL parser; the parsed call dispatches through
    the live registry (relational tools over the star schema, stateful
    tools over PersonalStore, with the add_calendar_event mutation
    visible to the later read — the agent-session state threading the
    reference gets from MariaDB). The episode ledger (step, tool parsed
    from the text, result row count, a SQL-derivable checksum of the
    result values) is what the oracle re-derives as CTEs: orders/
    documents tools from the views, personal-store tools from the same
    generate_series grid the bootstrap oracle certifies. Step 9 is a
    malformed TOOL_CALL (unbalanced brace) proving the parser's
    None-contract reaches the ledger, not an exception.

    The ledger stays lazy — per-step 1-row aggregate frames unioned and
    collected once by the caller; no driver-side result loop."""
    from backend_fastapi_spark.api import Engine
    from backend_fastapi_spark.personal import PersonalStore
    from backend_fastapi_spark.tools import execute_tool, parse_tool_call

    eng = Engine.open(spark, sf_dir)
    store = PersonalStore.bootstrap(spark)

    cal_len = F.sum(
        F.length("title") + F.length("event_time") + F.length("event_type")
    )
    # (raw LLM-output text, checksum aggregate over the tool's result)
    script = [
        ('Checking spending first. TOOL_CALL: '
         '{"tool": "get_spend_summary", "args": {"user_id": 19}}',
         F.sum(F.round(F.col("total_spend") * 100).cast("long")
               + F.col("n_orders"))),
        ('Recent activity: TOOL_CALL: '
         '{"tool": "get_recent_orders", "args": {"user_id": 19, "limit": 5}}',
         F.sum("o_orderkey")),
        ('Need background docs. TOOL_CALL: {"tool": "search_knowledge", '
         '"args": {"keywords": "merge,window", "limit": 5}} — then decide.',
         F.sum(F.col("doc_id") + F.col("n_chars"))),
        ('TOOL_CALL: {"tool": "get_finance_items", '
         '"args": {"category": "ETF", "user_id": 2}}',
         F.sum(F.col("item_id") + F.col("amount").cast("long")
               + F.col("total_assets").cast("long"))),
        ('TOOL_CALL: {"tool": "get_calendar_events", '
         '"args": {"date": "2024-06-04", "user_id": 3}}',
         cal_len),
        ('Booking it. TOOL_CALL: {"tool": "add_calendar_event", "args": '
         '{"title": "dental checkup", "event_date": "2024-06-04", '
         '"event_time": "10:30", "user_id": 3}}',
         cal_len),
        ('Re-check the day. TOOL_CALL: {"tool": "get_calendar_events", '
         '"args": {"date": "2024-06-04", "user_id": 3}}',
         cal_len),
        ('TOOL_CALL: {"tool": "get_health_status", "args": {"user_id": 2}}',
         F.sum(F.col("health_score") + F.size("diseases")
               + F.size("medications"))),
        # malformed: unbalanced brace — parser must return None
        ('TOOL_CALL: {"tool": "get_weather", "args": {"location": "Seoul"',
         F.lit(0)),
    ]

    frames = []
    for i, (text, checksum) in enumerate(script, start=1):
        call = parse_tool_call(text)
        if call is None:
            frames.append(
                spark.range(1).select(
                    F.lit(i).cast("long").alias("step"),
                    F.lit("(no_tool_call)").alias("tool"),
                    F.lit(0).cast("long").alias("n_rows"),
                    F.lit(0).cast("long").alias("checksum"),
                )
            )
            continue
        result = execute_tool(eng, call, store)
        frames.append(
            result.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.coalesce(checksum.cast("long"), F.lit(0).cast("long"))
                .alias("checksum"),
            ).select(
                F.lit(i).cast("long").alias("step"),
                F.lit(call["tool"]).alias("tool"),
                "n_rows",
                "checksum",
            )
        )
    out = frames[0]
    for fdf in frames[1:]:
        out = out.unionByName(fdf)
    return out.orderBy("step")


@register(
    "catalog_tables_rowcounts",
    oracle=" UNION ALL ".join(
        f"SELECT '{t}' AS table_name, CAST(count(*) AS BIGINT) AS n_rows "
        f"FROM {t}"
        for t in (
            "region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "events", "documents", "embeddings",
        )
    )
    + " ORDER BY table_name",
)
def q_catalog_tables_rowcounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S4 promoted to driver hash-green: the catalog surface (list
    tables + scan each) exercised end to end — Catalog.list_tables()
    enumerates, Catalog.table() routes every scan through the source
    layer (nanos-timestamp + UTC normalization), and a per-table
    count(*) aggregate unions into one result the oracle reproduces
    from the same ten views. Each branch is a metadata-cheap count
    (parquet row-group stats), so the plan is ten tiny independent
    stages — the SHOW TABLES + row-count analog of the reference's
    internal_db listing (src/services/internal_db_service.py:83-94)."""
    from functools import reduce

    from backend_fastapi_spark.core.catalog import Catalog

    cat = Catalog(spark, sf_dir)
    parts = [
        cat.table(n)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.lit(n).alias("table_name"), "n_rows")
        for n in cat.list_tables()
    ]
    return reduce(lambda a, b: a.unionAll(b), parts).orderBy("table_name")


@register("ann_lsh_top10", oracle=None)  # approximate by construction
def q_ann_lsh_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2/V3 scale path: BucketedRandomProjectionLSH approximate top-10 for
    one query vector (recall vs exact kNN asserted in tests/test_vector.py)."""
    from backend_fastapi_spark.operators.lsh import ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    # scalar output columns only (no raw vector): the driver's result
    # canonicalizer cannot hash ARRAY cells
    return ann_topk(emb, qvec, k=10).drop("embedding", "features")


@register(
    "doc_embed_knn",
    oracle=r"""
    WITH
    toks AS (
      SELECT doc_id, unnest(list_filter(
               string_split(lower(regexp_replace(text, '[^ -~]', ' ', 'g')), ' '),
               t -> t <> '')) AS tok
      FROM documents
      UNION ALL
      SELECT CAST(-1 AS BIGINT) AS doc_id,
             unnest(string_split('vector search with spark', ' ')) AS tok),
    contrib AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 64 AS bucket,
             CASE WHEN CAST(('0x' || substr(md5(tok), 9, 2)) AS BIGINT) % 2 = 1
                  THEN 1.0 ELSE -1.0 END AS sgn
      FROM toks),
    sums AS (SELECT doc_id, bucket, sum(sgn) AS v
             FROM contrib GROUP BY doc_id, bucket),
    ids AS (SELECT doc_id FROM documents UNION ALL SELECT CAST(-1 AS BIGINT)),
    dense AS (
      SELECT i.doc_id, r.b, coalesce(s.v, 0.0) AS v
      FROM ids i
      CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) r
      LEFT JOIN sums s ON s.doc_id = i.doc_id AND s.bucket = r.b),
    norms AS (SELECT doc_id, sqrt(sum(v*v)) AS nrm FROM dense GROUP BY doc_id),
    vecs AS (
      SELECT d.doc_id,
             list(CAST(CASE WHEN n.nrm > 0 THEN d.v / n.nrm ELSE 0.0 END
                       AS REAL) ORDER BY d.b) AS emb
      FROM dense d JOIN norms n USING (doc_id)
      GROUP BY d.doc_id),
    q AS (SELECT emb AS qemb FROM vecs WHERE doc_id = -1)
    SELECT 'q0' AS q_id, v.doc_id,
           """ + f"""{_DOT_I64_SQL.format(a='v.emb', b='q.qemb')} AS score_i64
    FROM vecs v, q WHERE v.doc_id <> -1
    ORDER BY score_i64 DESC, doc_id ASC LIMIT 10
    """,
)
def q_doc_embed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1+V3: deterministic hashing-projection embedding of document text
    (pandas UDF, Arrow batches) → exact kNN against an embedded query
    string — the full embed→index→search pipeline without a model server.

    Oracle-checked as of round 5: the surrogate embedder is a pure md5
    feature-hash (token → bucket = first-4-bytes % dim, sign = h[4]&1,
    float64 L2-normalize, float32 cast), so the WHOLE pipeline — tokenize,
    embed, quantize, dot, top-k — is reproducible in SQL. The driver's
    hash row therefore certifies the V1 boundary itself (Arrow batching,
    float32 rounding, fixed-point scoring), not just the plumbing around
    it. The production bge-m3 path stays non-oracle by nature.

    Text is ASCII-sanitized ([^ -~] → space) IN BOTH ENGINES before
    embedding: Python str.split() splits on Unicode whitespace (NBSP,
    U+3000, NEL…) that no portable SQL regex class reproduces, so the
    identity is pinned to a content-independent tokenization rather than
    hoping regenerated testdata stays ASCII."""
    from backend_fastapi_spark.functions.embedder import hashing_embedder

    embed = hashing_embedder(dim=64)
    ascii_text = F.regexp_replace("text", "[^ -~]", " ")
    docs = _t(spark, sf_dir, "documents").withColumn(
        "embedding", embed(ascii_text)
    )
    qdf = (
        local_frame(
            spark, [("q0", "vector search with spark")], "q_id string, qtext string"
        )
        .withColumn("q_embedding", embed("qtext"))
        .select("q_id", "q_embedding")
    )
    return V.knn_exact(
        docs.select("doc_id", "embedding"),
        qdf,
        k=10,
        corpus_id="doc_id",
        exclude_self=False,
    ).select("q_id", "doc_id", "score_i64")


# ---------------------------------------------------------------------------
# Scalar-function surface (§2.8 math/string) as oracle-checked queries
# ---------------------------------------------------------------------------

@register(
    "minmax_rescale",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CASE WHEN mx = mn THEN 0.5
                ELSE (o_totalprice - mn) / (mx - mn) END AS price_scaled
    FROM (
      SELECT o_orderkey, o_custkey, o_totalprice,
             MIN(o_totalprice) OVER (PARTITION BY o_custkey) AS mn,
             MAX(o_totalprice) OVER (PARTITION BY o_custkey) AS mx
      FROM orders)
    """,
)
def q_minmax_rescale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 min-max score rescale per group (enhanced:704-714), degenerate
    range → 0.5."""
    w = Window.partitionBy("o_custkey")
    mn, mx = F.min("o_totalprice").over(w), F.max("o_totalprice").over(w)
    scaled = F.when(mx == mn, F.lit(0.5)).otherwise(
        (F.col("o_totalprice") - mn) / (mx - mn)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", scaled.alias("price_scaled")
    )


@register(
    "pct_change_daily",
    oracle=f"""
    WITH {_DAILY_CTE},
    lagged AS (
      SELECT user_id, day, val,
             lag(val) OVER (PARTITION BY user_id ORDER BY day) AS prev
      FROM series WHERE val IS NOT NULL)
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           ROUND((val - prev) * 1e2) / 1e2 AS change,
           ROUND(((val - prev) / prev * 100) * 1e2) / 1e2 AS pct_change
    FROM lagged WHERE prev IS NOT NULL AND prev <> 0
    """,
)
def q_pct_change_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 math: change & percent change with round(x,2)
    (tool_executor.py:314-329)."""
    series = _daily_series(spark, sf_dir).filter(F.col("val").isNotNull())
    w = Window.partitionBy("user_id").orderBy("day")
    lagged = series.withColumn("prev", F.lag("val").over(w)).filter(
        F.col("prev").isNotNull() & (F.col("prev") != 0)
    )
    return lagged.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.round((F.col("val") - F.col("prev")) * 100, 0) / 100).alias("change"),
        (
            F.round(((F.col("val") - F.col("prev")) / F.col("prev") * 100) * 100, 0)
            / 100
        ).alias("pct_change"),
    )


@register(
    "weighted_recommend_score",
    oracle="""
    SELECT c_custkey, c_name,
           50
           + CASE WHEN c_mktsegment = 'BUILDING' THEN 30 ELSE 0 END
           + CASE WHEN c_acctbal > 5000 THEN 25 ELSE 0 END
           + CASE WHEN c_nationkey IN (0, 1, 2) THEN -20 ELSE 0 END AS score
    FROM customer
    ORDER BY score DESC, c_custkey ASC LIMIT 20
    """,
)
def q_weighted_recommend_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 weighted recommendation rubric (+30/−20/+25 when-chain,
    llm_handler.py:289-332) + score sort."""
    c = _t(spark, sf_dir, "customer")
    score = (
        F.lit(50)
        + F.when(F.col("c_mktsegment") == "BUILDING", 30).otherwise(0)
        + F.when(F.col("c_acctbal") > 5000, 25).otherwise(0)
        + F.when(F.col("c_nationkey").isin(0, 1, 2), -20).otherwise(0)
    )
    return (
        c.select("c_custkey", "c_name", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "rewrite_chain",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(substr(text, 1, 80), 'vector', '벡터', 'g'),
               'query', '쿼리', 'g'),
             '\\s+', ' ', 'g')) AS rewritten
    FROM documents
    """,
)
def q_rewrite_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 EN→KO term rewrite (regex table) + whitespace-collapse cleanup
    (enhanced:876-909) as a chained regexp_replace."""
    t = F.substring("text", 1, 80)
    out = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.regexp_replace(t, "vector", "벡터"), "query", "쿼리"),
            "\\s+",
            " ",
        )
    )
    return _t(spark, sf_dir, "documents").select("doc_id", out.alias("rewritten"))


@register(
    "html_strip",
    oracle="""
    SELECT doc_id,
           regexp_replace('<p>' || substr(text, 1, 60) || '</p><a href="x">link</a>',
                          '<[^<]+?>', '', 'g') AS clean
    FROM documents
    """,
)
def q_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 HTML tag strip (news_service_rss.py:155-161) — tags synthesized
    around testdata text, then stripped with the reference's regex."""
    wrapped = F.concat(
        F.lit("<p>"), F.substring("text", 1, 60), F.lit('</p><a href="x">link</a>')
    )
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace(wrapped, "<[^<]+?>", "").alias("clean")
    )


@register(
    "rss_items_parsed",
    oracle=r"""
    WITH raw AS (
      SELECT content FROM read_text('/root/repo/data/news_feed.xml')),
    items AS (
      SELECT unnest(regexp_extract_all(content, '<item>(.*?)</item>', 1, 's'))
               AS item
      FROM raw),
    fields AS (
      SELECT regexp_extract(item, '<title>(.*?)</title>', 1) AS title,
             regexp_extract(item, '<link>(.*?)</link>', 1) AS link,
             regexp_extract(item, '<description>(.*?)</description>', 1) AS d,
             regexp_extract(item, '<pubDate>(.*?)</pubDate>', 1) AS pub_date
      FROM items)
    SELECT 'file://news_feed.xml' AS feed_url, title, link,
           regexp_replace(
             replace(replace(replace(d, '&lt;', '<'), '&gt;', '>'),
                     '&amp;', '&'),
             '<[^<]+?>', '', 'g') AS description,
           pub_date
    FROM fields ORDER BY link
    """,
)
def q_rss_items_parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 promoted to driver hash-green (VERDICT r09 directive #6): the
    RSS item parse (sources/feeds.py::parse_rss_items — xpath arrays
    zipped positionally, the engine-owned half of the reference's
    news_service_rss.py:106-212 fetch+parse) over the checked-in feed
    fixture, with a DuckDB twin that re-derives title/link/description/
    pubDate by regexp extraction from the same raw XML. The twin decodes
    the XML entities the fixture uses (&lt; &gt; &amp; — xpath's text()
    expands them natively) before applying the same tag-strip regex, so
    the value identity covers the entity-decode + HTML-strip chain, not
    just field slicing. The fetch itself stays an external boundary
    (SURVEY §2.1)."""
    from backend_fastapi_spark.sources.feeds import parse_rss_items

    with open("/root/repo/data/news_feed.xml") as f:
        xml = f.read()
    feeds = spark.range(1).select(
        F.lit("file://news_feed.xml").alias("feed_url"),
        F.lit(xml).alias("xml"),
    )
    return parse_rss_items(feeds).orderBy("link")


@register(
    "anchor_extraction",
    oracle=f"""
    WITH {_TOKS_CTE}
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(list_filter(w,
             x -> length(x) >= 2 AND NOT list_contains({_STOP_SQL}, x)))), ' ') AS anchors
    FROM toks
    """,
)
def q_anchor_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9/§2.8 anchor set algebra: tokens len≥2 minus stopwords, distinct,
    sorted (enhanced:729-755). Emitted space-joined: ARRAY output columns
    are unhashable in the driver's pandas canonicalizer."""
    stop_arr = F.array(*[F.lit(s) for s in TX.STOPWORDS])
    w = TX.words(F.col("text"))
    anchors = F.array_sort(
        F.array_distinct(
            F.filter(
                w,
                lambda x: (F.length(x) >= 2) & ~F.array_contains(stop_arr, x),
            )
        )
    )
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.array_join(anchors, " ").alias("anchors")
    )


@register(
    "union_then_global_topn",
    oracle="""
    WITH per_status AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders)
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM per_status WHERE rn <= 5
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
)
def q_union_then_global_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: per-category result sets unioned then globally re-sorted/limited
    (helpers.py:95-119 category news → global top-n)."""
    per = R.per_group_top_n(
        _t(spark, sf_dir, "orders"),
        ["o_orderstatus"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        5,
    )
    return (
        per.select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@register(
    "ingest_pipeline_chunks",
    oracle="""
    WITH docs AS (
      SELECT doc_id, coalesce(source, 'Unknown') AS title,
             concat_ws(chr(10),
                       '제목: ' || coalesce(source, 'Unknown'),
                       CASE WHEN trim(text) <> '' THEN 'text: ' || trim(text) END)
               AS text
      FROM documents)
    SELECT doc_id, title, CAST((i-1)//580 AS BIGINT) AS chunk_idx,
           substr(text, i, 700) AS chunk
    FROM docs,
         LATERAL (SELECT unnest(generate_series(1, greatest(length(text),1), 580)) AS i) t
    """,
)
def q_ingest_pipeline_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 ingest stages 1-3 with the FIXED-SIZE chunker (char_chunks
    700/580): inference → assembly → chunking. NOTE this is NOT the
    ingest plan's default chunker — plans/ingest.py defaults to the
    recursive separator ladder (reference rag_service.py:78-83,
    enhanced_internal_db_service.py:591-600). Hash-level driver evidence
    for the recursive splitter's merge/overlap machinery is
    ``recursive_chunk_merge_oracle``; the full-ladder descent is covered
    by golden parity tests (tests/test_chunker.py) and rows-only by
    ``chunk_documents_recursive``. The embedding stage is excluded from
    all chunk oracles — it's the UDF boundary, covered rows-only by
    ingest_pipeline_embedded."""
    from backend_fastapi_spark.plans.ingest import assemble_documents

    docs = assemble_documents(_t(spark, sf_dir, "documents"), "docs_idx")
    return TX.char_chunks(
        docs.withColumnRenamed("doc_text", "text"),
        size=700,
        stride=580,
    ).join(
        docs.select("doc_id", "title"), "doc_id"
    ).select("doc_id", "title", "chunk_idx", "chunk")


def _ingest_embedded_oracle_sql() -> str:
    # The full §3.2 pipeline re-derived in SQL. Chunk step: on the current
    # testdata generation every assembled document is < chunk_size chars
    # (max ~575 vs 700), so the recursive ladder's greedy merge emits
    # EXACTLY ONE chunk per document — the whole assembled text. The
    # multi-chunk descent/merge machinery is hash-certified separately
    # (recursive_chunk_merge_oracle) and golden-tested
    # (tests/test_chunker.py); if a future data generation grows documents
    # past the chunk size this oracle goes red rather than silently wrong
    # — the same corpus-bound-oracle contract as ngram_jaccard_dupes.
    # Embed step: the md5 feature-hash projection certified by
    # doc_embed_knn, here over the assembled chunk (which contains '\n' —
    # Python str.split() treats it as whitespace, so the SQL twin
    # normalizes it to a space before splitting).
    q = _Q.format(x="CASE WHEN n.nrm > 0 THEN CAST(d.v / n.nrm AS REAL) "
                    "ELSE CAST(0.0 AS REAL) END")
    return f"""
    WITH docs AS (
      SELECT doc_id, source AS title,
             '제목: ' || source || chr(10) || 'text: ' || trim(text)
               AS chunk,
             length(CAST(doc_id AS VARCHAR)) + length(source)
               + length(substr(text, 1, 3000)) + 25 AS meta_chars
      FROM documents),
    toks AS (
      SELECT doc_id, unnest(list_filter(
               string_split(lower(replace(chunk, chr(10), ' ')), ' '),
               t -> t <> '')) AS tok
      FROM docs),
    contrib AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 64 AS bucket,
             CASE WHEN CAST(('0x' || substr(md5(tok), 9, 2)) AS BIGINT) % 2 = 1
                  THEN 1.0 ELSE -1.0 END AS sgn
      FROM toks),
    sums AS (SELECT doc_id, bucket, sum(sgn) AS v
             FROM contrib GROUP BY doc_id, bucket),
    dense AS (
      SELECT i.doc_id, r.b, coalesce(s.v, 0.0) AS v
      FROM (SELECT doc_id FROM docs) i
      CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) r
      LEFT JOIN sums s ON s.doc_id = i.doc_id AND s.bucket = r.b),
    norms AS (SELECT doc_id, sqrt(sum(v*v)) AS nrm FROM dense GROUP BY doc_id),
    vecs AS (
      SELECT d.doc_id,
             array_to_string(list(CAST({q} AS VARCHAR) ORDER BY d.b), ',')
               AS embedding_fx
      FROM dense d JOIN norms n USING (doc_id)
      GROUP BY d.doc_id)
    SELECT c.doc_id, 'docs_idx' AS index_name, c.title,
           c.chunk AS text, v.embedding_fx,
           CAST(4 AS INTEGER) AS n_meta,
           CAST(c.meta_chars AS BIGINT) AS meta_chars
    FROM docs c JOIN vecs v USING (doc_id)
    ORDER BY doc_id
    """


@register("ingest_pipeline_embedded", oracle=_ingest_embedded_oracle_sql())
def q_ingest_pipeline_embedded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 full ingest plan incl. embedding, promoted to driver
    hash-green (VERDICT r09 directive #5): the chunks+vectors table that
    write_index() persists partitioned by index_name, audited value-exact
    — assembled chunk text, the embedder's fixed-point vector (md5
    feature hash → float32 → L2 norm → 1e6 quantization, serialized CSV
    because the driver's canonicalizer cannot hash ARRAY cells), and the
    per-chunk metadata audit (key count + char mass; to_json is excluded
    since JSON escaping isn't portably reproducible, and the map CONTENT
    is what the audit certifies). chunk_id (xxhash64, engine-specific)
    stays out of the oracle-checked projection; its keying contract is
    test-evidenced."""
    from backend_fastapi_spark.plans.ingest import ingest_table

    chunks = ingest_table(_t(spark, sf_dir, "documents"), "docs_idx")
    vec_str = F.array_join(
        F.transform(
            F.col("embedding"),
            lambda v: F.round(v.cast("double") * 1e6, 0).cast("long").cast("string"),
        ),
        ",",
    )
    meta_chars = F.aggregate(
        F.map_entries("metadata"),
        F.lit(0).cast("long"),
        lambda acc, e: acc + F.length(e["key"]) + F.length(e["value"]),
    )
    return chunks.select(
        "doc_id",
        "index_name",
        "title",
        "text",
        vec_str.alias("embedding_fx"),
        F.size("metadata").alias("n_meta"),
        meta_chars.alias("meta_chars"),
    ).orderBy("doc_id")


@register(
    "recursive_chunk_merge_oracle",
    oracle=r"""
    WITH RECURSIVE
    docs AS (
      SELECT doc_id, doc_id % 50 AS grp,
             trim(regexp_replace(regexp_replace(
                  text, '[\n\r\t。.?!]+', ' ', 'g'), ' +', ' ', 'g')) AS t
      FROM documents),
    g AS (
      SELECT grp, string_agg(t, ' ' ORDER BY doc_id) AS t
      FROM docs WHERE t <> '' GROUP BY grp),
    gok AS (
      SELECT grp, t FROM g
      WHERE list_max(list_transform(string_split(t, ' '),
                                    w -> length(w))) <= 399),
    words AS (
      SELECT grp, i,
             CASE WHEN i = 1 THEN length(w[i]) ELSE 1 + length(w[i]) END AS plen
      FROM (SELECT grp, string_split(t, ' ') AS w FROM gok) s,
           LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) u),
    pfx AS (
      SELECT grp, i, sum(plen) OVER (PARTITION BY grp ORDER BY i) AS p
      FROM words),
    tot AS (SELECT grp, max(p) AS tot FROM pfx GROUP BY grp),
    -- greedy merge with sliding overlap as a boundary chain over prefix
    -- sums: pe = end offset of the chunk (max p <= start + 700),
    -- next start ps = min p >= pe - 120 (pop-to-overlap survivors)
    chain(grp, tot, k, ps, pe) AS (
      SELECT t.grp, t.tot, 0, 0,
             (SELECT max(p2.p) FROM pfx p2
               WHERE p2.grp = t.grp AND p2.p <= 700)
      FROM tot t
      UNION ALL
      SELECT c.grp, c.tot, c.k + 1,
             (SELECT min(p2.p) FROM pfx p2
               WHERE p2.grp = c.grp AND p2.p >= c.pe - 120),
             (SELECT max(p3.p) FROM pfx p3
               WHERE p3.grp = c.grp
                 AND p3.p <= (SELECT min(p4.p) FROM pfx p4
                               WHERE p4.grp = c.grp
                                 AND p4.p >= c.pe - 120) + 700)
      FROM chain c WHERE c.pe < c.tot)
    SELECT c.grp AS grp, c.k AS chunk_idx,
           CASE WHEN c.k = 0 THEN substr(gt.t, 1, CAST(c.pe AS INT))
                ELSE substr(gt.t, CAST(c.ps + 2 AS INT),
                            CAST(c.pe - c.ps - 1 AS INT)) END AS chunk
    FROM chain c JOIN gok gt USING (grp)
    """,
)
def q_recursive_chunk_merge_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-level driver evidence for the RECURSIVE splitter's greedy
    merge + sliding-overlap machinery (operators/chunker.py::_merge_pieces
    — the part the fixed-size oracle of ingest_pipeline_chunks never
    touches; VERDICT r04 directive #4).

    Restricted-input identity: on text whose only ladder separator is the
    last rung " " and whose pieces are all < chunk_overlap short of the
    chunk size, the separator-ladder recursion reduces to ONE greedy merge
    pass, and its chunk boundaries are a deterministic chain over piece
    prefix sums: chunk k spans (ps, pe] with pe = max prefix <= ps + 700,
    next ps = min prefix >= pe - 120. That chain IS SQL-expressible
    (recursive CTE in the oracle) — validated piece-for-piece against
    recursive_split on this corpus before registration.

    Documents are normalized to that regime (higher-rung separators → " ")
    and concatenated into 50 multi-KB groups (doc_id % 50, ordered) so
    every group genuinely overflows several chunks. The Spark side runs
    the REAL pandas-UDF chunker (recursive_chunks with the reference
    ladder, 700/120 — enhanced_internal_db_service.py:591-600), not a
    reimplementation; the full ladder DESCENT (multi-rung) stays covered
    by tests/test_chunker.py golden parity.
    """
    from backend_fastapi_spark.operators.chunker import recursive_chunks

    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace("text", "[\\n\\r\\t。.?!]+", " "), " +", " "
        )
    )
    d = (
        _t(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 50).alias("grp"), "doc_id", clean.alias("t"))
        .filter(F.col("t") != "")
    )
    # one row per group: texts concatenated in doc_id order (array_sort on
    # (doc_id, t) structs — deterministic, no Window/shuffle beyond the agg)
    merged = d.groupBy("grp").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "t"))),
                lambda s: s["t"],
            ),
            " ",
        ).alias("t")
    )
    # merge-only regime guard (mirrors the oracle's gok CTE): every word
    # far below chunk_size so no piece ever recurses or re-pops
    merged = merged.filter(
        F.array_max(F.transform(F.split("t", " "), F.length)) <= 399
    )
    return recursive_chunks(
        merged, text_col="t", id_col="grp", chunk_size=700, chunk_overlap=120
    ).select("grp", "chunk_idx", "chunk")


@register(
    "ts_last_valid_window",
    oracle=f"""
    WITH {_DAILY_CTE},
    win AS (
      SELECT user_id, day, list(val) OVER w AS window_vals,
             COUNT(val) OVER w AS n, MIN(day) OVER w AS d0
      FROM series
      WINDOW w AS (PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
    valid AS (
      SELECT user_id, day, window_vals,
             row_number() OVER (PARTITION BY user_id ORDER BY day DESC) AS rn
      FROM win WHERE n = 7 AND date_diff('day', d0, day) = 6)
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           array_to_string(list_transform(window_vals,
               v -> CAST(CAST(ROUND(v * 1e6) AS BIGINT) AS VARCHAR)), ',') AS window_csv
    FROM valid WHERE rn = 1
    """,
)
def q_ts_last_valid_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 trailing-window search: the most recent fully-valid lookback
    window per series (predict.py:52-58 backward scan). Window emitted as
    fixed-point int64 CSV — see q_ts_sliding_windows."""
    from backend_fastapi_spark.operators import timeseries as TS

    wins = TS.sliding_windows(_daily_series(spark, sf_dir), "user_id", lookback=7)
    w = Window.partitionBy("user_id").orderBy(F.col("day").desc())
    return (
        wins.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.array_join(
                F.expr(
                    "transform(window_vals,"
                    " v -> CAST(CAST(ROUND(v * 1e6) AS BIGINT) AS STRING))"
                ),
                ",",
            ).alias("window_csv"),
        )
    )


@register(
    "attribute_filter",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_size, p_retailprice
    FROM part
    WHERE p_size BETWEEN 10 AND 30
      AND lower(p_type) LIKE '%economy%'
      AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
    """,
)
def q_attribute_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 attribute filter over a dim table (RAM/GPU range + category +
    keyword, routes.py:646-701). Predicates are tuned to the testdata
    vocabulary (p_type ∈ {ECONOMY, SMALL, ...}, brands Brand#1..25) so
    the conjunction selects real rows — the r2/r5 version matched the
    oracle on an empty set, which certifies nothing (VERDICT r05 #3):
    18 rows at sf0.01, 195 at sf0.1, ≥1 at sf0.001."""
    p = _t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_size").between(10, 30)
        & F.lower(F.col("p_type")).contains("economy")
        & F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
    ).select("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice")


@register(
    "paginated_orders",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders ORDER BY o_orderdate DESC, o_orderkey ASC
    LIMIT 25 OFFSET 50
    """,
)
def q_paginated_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/O6 pagination (page 3, size 25): ordered offset+limit."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").asc())
        .offset(50)
        .limit(25)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# CRUD-as-batch (S15), skew-safe aggregation, customer-360 star, SimHash
# ---------------------------------------------------------------------------

@register(
    "scd2_customer_merge",
    oracle="""
    WITH cur AS (
      SELECT c_custkey, c_acctbal, c_mktsegment,
             TIMESTAMP '2024-01-01' AS valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to,
             TRUE AS is_current
      FROM customer),
    upd AS (
      SELECT c_custkey, c_acctbal + 100 AS u_bal, c_mktsegment AS u_seg,
             TIMESTAMP '2024-06-01' AS u_ts
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey, c_acctbal, c_mktsegment, TIMESTAMP '2024-06-01'
      FROM customer WHERE c_custkey % 7 = 1
      UNION ALL
      SELECT c_custkey + 1000000, c_acctbal, 'NEWSEG', TIMESTAMP '2024-06-01'
      FROM customer WHERE c_custkey % 7 = 2),
    j AS (
      SELECT COALESCE(cur.c_custkey, upd.c_custkey) AS c_custkey,
             cur.c_acctbal, cur.c_mktsegment, cur.valid_from, cur.valid_to,
             cur.is_current, upd.u_bal, upd.u_seg, upd.u_ts,
             (cur.c_acctbal IS DISTINCT FROM upd.u_bal
              OR cur.c_mktsegment IS DISTINCT FROM upd.u_seg) AS changed
      FROM cur FULL OUTER JOIN upd ON cur.c_custkey = upd.c_custkey)
    SELECT c_custkey, c_acctbal, c_mktsegment, valid_from, valid_to,
           is_current
    FROM j WHERE valid_from IS NOT NULL AND (u_ts IS NULL OR NOT changed)
    UNION ALL
    SELECT c_custkey, c_acctbal, c_mktsegment, valid_from,
           u_ts AS valid_to, FALSE AS is_current
    FROM j WHERE valid_from IS NOT NULL AND u_ts IS NOT NULL AND changed
    UNION ALL
    SELECT c_custkey, u_bal AS c_acctbal, u_seg AS c_mktsegment,
           u_ts AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to,
           TRUE AS is_current
    FROM j WHERE u_ts IS NOT NULL AND (valid_from IS NULL OR changed)
    """,
)
def q_scd2_customer_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history-preserving merge (operators/crud.py::
    scd2_apply) — the warehouse counterpart of the reference's row
    UPDATE: instead of overwriting, close the open version (valid_to =
    update ts) and open a new one. The synthetic update batch exercises
    all four outcomes: changed rows (custkey%7=0, acctbal+100) close +
    reopen, no-change updates (%7=1) are dropped, new keys (%7=2,
    +1000000) insert, everyone else passes through. One full-outer
    shuffle on the key; closed history never rewrites."""
    from backend_fastapi_spark.operators.crud import scd2_apply

    cust = _t(spark, sf_dir, "customer")
    ntz = "timestamp_ntz"
    current = cust.select(
        "c_custkey", "c_acctbal", "c_mktsegment",
        F.lit("2024-01-01 00:00:00").cast(ntz).alias("valid_from"),
        F.lit(None).cast(ntz).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    ts = F.lit("2024-06-01 00:00:00").cast(ntz)
    changed = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", (F.col("c_acctbal") + 100).alias("c_acctbal"),
        "c_mktsegment", ts.alias("ts"),
    )
    nochange = cust.filter(F.col("c_custkey") % 7 == 1).select(
        "c_custkey", "c_acctbal", "c_mktsegment", ts.alias("ts")
    )
    inserts = cust.filter(F.col("c_custkey") % 7 == 2).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        "c_acctbal", F.lit("NEWSEG").alias("c_mktsegment"), ts.alias("ts"),
    )
    updates = changed.unionByName(nochange).unionByName(inserts)
    return scd2_apply(
        current, updates, ["c_custkey"], "ts",
        ["c_acctbal", "c_mktsegment"],
    )


@register(
    "upsert_orders",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
             o_totalprice + 1000 AS o_totalprice,
             o_orderdate + INTERVAL 1 DAY AS o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 100 = 0),
    unioned AS (
      SELECT *, 0 AS src FROM orders
      UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                       o_orderdate, o_orderpriority, 1 AS src FROM updates),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                   ORDER BY o_orderdate DESC, src DESC) AS rn
      FROM unioned)
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM ranked WHERE rn = 1
    """,
)
def q_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 batch upsert: synthetic update set (every 100th order bumped,
    newer o_orderdate) merged keep-newest-per-key."""
    from backend_fastapi_spark.operators.crud import upsert

    orders = _t(spark, sf_dir, "orders")
    updates = (
        orders.filter(F.col("o_orderkey") % 100 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000)
        .withColumn("o_orderdate", F.date_add("o_orderdate", 1).cast("timestamp"))
    )
    merged = upsert(orders, updates, ["o_orderkey"], "o_orderdate")
    return merged.select("o_orderkey", "o_orderstatus", "o_totalprice")


@register(
    "delete_keys_orders",
    oracle="""
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    """,
)
def q_delete_keys_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 key-set delete (anti-join): drop orders of negative-balance
    customers."""
    from backend_fastapi_spark.operators.crud import delete_keys

    orders = _t(spark, sf_dir, "orders")
    bad = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return delete_keys(orders, bad, ["o_custkey"]).select("o_orderkey", "o_custkey")


@register(
    "salted_skew_sum",
    oracle=f"""
    SELECT l_suppkey, {SQL_DSUM('l_extendedprice')} AS total, COUNT(*) AS n
    FROM lineitem GROUP BY l_suppkey
    """,
)
def q_salted_skew_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation: salt → partial → combine. Result
    identical to the plain groupBy (the oracle IS the plain groupBy)."""
    from backend_fastapi_spark.operators.crud import salted_sum

    li = _t(spark, sf_dir, "lineitem")
    sums = salted_sum(
        li,
        ["l_suppkey"],
        F.col("l_extendedprice").cast("decimal(30,2)"),
        alias="_total_dec",
        salt_source="l_orderkey",
    ).select("l_suppkey", F.col("_total_dec").cast("double").alias("total"))
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("n"))
    return sums.join(counts, "l_suppkey")


@register(
    "customer_360",
    oracle=f"""
    WITH order_stats AS (
      SELECT o_custkey, COUNT(*) AS n_orders,
             {SQL_DSUM('o_totalprice')} AS lifetime_spend,
             MAX(o_orderdate) AS last_order_at
      FROM orders GROUP BY 1),
    item_stats AS (
      SELECT o_custkey, COUNT(*) AS n_items,
             CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS total_qty
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1),
    event_stats AS (
      SELECT user_id AS c_custkey, COUNT(*) AS n_events FROM events GROUP BY 1)
    SELECT c.c_custkey, c.c_name, c.c_mktsegment,
           coalesce(o.n_orders, 0) AS n_orders,
           coalesce(o.lifetime_spend, 0.0) AS lifetime_spend,
           o.last_order_at,
           coalesce(i.n_items, 0) AS n_items,
           coalesce(i.total_qty, 0.0) AS total_qty,
           coalesce(e.n_events, 0) AS n_events
    FROM customer c
    LEFT JOIN order_stats o ON c.c_custkey = o.o_custkey
    LEFT JOIN item_stats i ON c.c_custkey = i.o_custkey
    LEFT JOIN event_stats e ON c.c_custkey = e.c_custkey
    """,
)
def q_customer_360(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 at full width: the multi-child user-context star (orders,
    line items, events) assembled for every customer in one plan —
    aggregates reduced BEFORE the joins so the fact tables shuffle once
    at child granularity, never at join granularity."""
    c = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ev = _t(spark, sf_dir, "events")

    order_stats = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("lifetime_spend"),
        F.max("o_orderdate").alias("last_order_at"),
    )
    item_stats = (
        orders.select("o_orderkey", "o_custkey")
        .join(li.select("l_orderkey", "l_quantity"),
              orders.o_orderkey == li.l_orderkey)
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(30,2)")).cast("double").alias("total_qty"),
        )
    )
    event_stats = ev.groupBy(F.col("user_id").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return (
        c.join(order_stats, "c_custkey", "left")
        .join(item_stats, "c_custkey", "left")
        .join(event_stats, "c_custkey", "left")
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("lifetime_spend", F.lit(0.0)).alias("lifetime_spend"),
            "last_order_at",
            F.coalesce("n_items", F.lit(0)).alias("n_items"),
            F.coalesce("total_qty", F.lit(0.0)).alias("total_qty"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
    )


# SimHash oracle: the 64 md5-nibble bits of dedup.simhash_pairs as
# D.SIMHASH_BANDS band columns. The hs CTE projects the md5 digest ONCE
# per row; the 64 bit-aggregates then read substrings of it — not 64 md5
# evaluations per shingle.
_SIMHASH_HASH_CTE = "hs AS (SELECT doc_id, md5(shingle) AS h0 FROM sh)"

# hex chars whose nibble has bit 3 set / bit 2 set
_HEX_BIT3 = "('8','9','a','b','c','d','e','f')"
_HEX_BIT2 = "('4','5','6','7','c','d','e','f')"


def _simhash_bit_sql(g: int) -> str:
    nib = f"substr(h0, {g // 2 + 1}, 1)"
    return f"{nib} IN {_HEX_BIT3 if g % 2 == 0 else _HEX_BIT2}"


_SIMHASH_BAND_SQL = ", ".join(
    "("
    + " + ".join(
        f"CASE WHEN SUM(CASE WHEN {_simhash_bit_sql(16 * k + j)} "
        f"THEN 1 ELSE -1 END) > 0 "
        f"THEN {1 << j} ELSE 0 END"
        for j in range(D.SIMHASH_BAND_BITS)
    )
    + f") AS band{k}"
    for k in range(D.SIMHASH_BANDS)
)
_SIMHASH_HAMMING_SQL = " + ".join(
    f"bit_count(CAST(xor(a.band{k}, b.band{k}) AS BIGINT))"
    for k in range(D.SIMHASH_BANDS)
)
_SIMHASH_CAND_SQL = " UNION ".join(
    f"SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b "
    f"ON a.band{k} = b.band{k} AND a.doc_id < b.doc_id"
    for k in range(D.SIMHASH_BANDS)
)


@register(
    "simhash_pairs",
    oracle=f"""
    WITH {_TOKS_CTE}, {_SHINGLES_CTE}, {_SIMHASH_HASH_CTE},
    sig AS (SELECT doc_id, {_SIMHASH_BAND_SQL} FROM hs GROUP BY doc_id),
    cand AS ({_SIMHASH_CAND_SQL})
    SELECT c.id_a, c.id_b, CAST({_SIMHASH_HAMMING_SQL} AS BIGINT) AS hamming
    FROM cand c JOIN sig a ON a.doc_id = c.id_a JOIN sig b ON b.doc_id = c.id_b
    WHERE {_SIMHASH_HAMMING_SQL} <= 3
    """,
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(64-bit, md5-nibble hyperplanes) near-dup pairs with Hamming
    distance ≤ 3 (``dedup.simhash_pairs``) — the third dedup family
    (bit-signature, constant-size)."""
    return D.simhash_pairs(_t(spark, sf_dir, "documents"))


@register(
    "percentile_stats",
    oracle="""
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.5) AS median_price,
           quantile_cont(o_totalprice, 0.9) AS p90_price,
           quantile_cont(o_totalprice, 0.99) AS p99_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` and
    DuckDB `quantile_cont` share linear-interpolation semantics —
    verified bit-equal)."""
    return _t(spark, sf_dir, "orders").groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("median_price"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90_price"),
        F.expr("percentile(o_totalprice, 0.99)").alias("p99_price"),
    )


@register(
    "watermark_late_drop",
    oracle="""
    WITH marked AS (
      SELECT event_id, ts, user_id, event_type,
             MAX(ts) OVER (ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS high_water
      FROM events)
    SELECT event_id, ts, user_id, event_type
    FROM marked
    WHERE ts >= high_water - INTERVAL 10 MINUTE
    """,
)
def q_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics as a batch op: drop events arriving (in
    event_id arrival order) more than 10 min behind the running
    event-time high-water mark — the §2.11 late-data policy made
    inspectable/oracle-checkable."""
    ev = _t(spark, sf_dir, "events")
    # Distributed prefix-max (no global window over the events): bucket
    # arrival order into 64k-row blocks, run the running max per-block
    # (partitioned window), and carry the cross-block prefix via a window
    # over the per-block AGGREGATE — n/65536 rows, bounded work on one task
    # (the classic two-level scan; add a third level at 10^12 events).
    blk = (F.col("event_id") / F.lit(65536)).cast("long")
    wb = (
        Window.partitionBy("_blk")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = ev.withColumn("_blk", blk).withColumn("_run", F.max("ts").over(wb))
    blocks = (
        ev.withColumn("_blk", blk)
        .groupBy("_blk")
        .agg(F.max("ts").alias("_blk_max"))
    )
    w_prev = Window.orderBy("_blk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prev = blocks.select(
        "_blk", F.max("_blk_max").over(w_prev).alias("_prev_max")
    )
    return (
        marked.join(F.broadcast(prev), "_blk")
        .withColumn("_hw", F.greatest(F.col("_run"), F.coalesce("_prev_max", "_run")))
        .filter(F.col("ts") >= F.col("_hw") - F.expr("INTERVAL 10 MINUTES"))
        .select("event_id", "ts", "user_id", "event_type")
    )


@register(
    "session_window_native",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1
                  ELSE 0 END AS is_new
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      FROM marked)
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native session_window (30-min gap) — same semantics as the
    hand-built islands sessionization, one declarative op. Works identically
    over readStream for true streaming sessions."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


@register(
    "supplier_balance_by_region",
    oracle=f"""
    SELECT r_name AS region, COUNT(*) AS n_suppliers,
           {SQL_DSUM('s_acctbal')} AS total_balance
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q_supplier_balance_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-side star (completes table coverage): dims broadcast."""
    s = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "s_nationkey")
    region = _t(spark, sf_dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
    return (
        R.star_join(s, [(nation, ["s_nationkey"]), (region, ["n_regionkey"])])
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            dsum("s_acctbal").alias("total_balance"),
        )
    )


@register(
    "from_json_native",
    oracle="""
    SELECT event_id,
           CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS INTEGER) AS k,
           strftime(ts, '%H:%M') AS event_time_hhmm
    FROM events WHERE event_id < 500
    """,
)
def q_from_json_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 native JSON parsing with schema (from_json → typed struct) +
    TIME→"HH:MM" render (§1.1 TIME handling, tool_executor.py:156-161)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    parsed = F.from_json("props", "k INT")
    return ev.select(
        "event_id",
        parsed.getField("k").alias("k"),
        F.date_format("ts", "HH:mm").alias("event_time_hhmm"),
    )


@register(
    "grouping_sets_revenue",
    oracle=f"""
    SELECT r_name AS region, n_name AS nation,
           {SQL_DSUM('o_totalprice')} AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name), (n_name), ())
    """,
)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (region-only, nation-only, grand total) via
    Spark SQL over registered views."""
    for t in ("orders", "customer", "nation", "region"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(f"""
        SELECT r_name AS region, n_name AS nation,
               {SQL_DSUM('o_totalprice')} AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name), (n_name), ())
    """)


@register(
    "distinct_count_stats",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_distinct_count_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expand + two-phase under the hood; the
    approximate path is approx_count_distinct when ±2% is acceptable)."""
    return _t(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "bpe_top_merges",
    oracle=f"""
    WITH {_TOKS_CTE},
    prs AS (
      SELECT unnest(list_transform(range(1, len(w)), i -> w[CAST(i AS INT)]
               || ' ' || w[CAST(i+1 AS INT)])) AS pair
      FROM toks WHERE len(w) >= 2)
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM prs GROUP BY pair
    ORDER BY cnt DESC, pair ASC LIMIT 20
    """,
)
def q_bpe_top_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style vocabulary induction, first merge iteration: corpus-wide
    adjacent-token-pair frequencies, top 20 (count desc, pair asc — total
    order). The inner loop of byte-pair-encoding tokenizer training
    expressed as explode → one map-side-combined count shuffle →
    TakeOrdered top-k; at 100 TB the shuffle carries (distinct pairs ×
    partitions) partials, never the raw corpus, and only 20 rows reach
    the driver."""
    docs = _t(spark, sf_dir, "documents")
    w = TX.words(F.col("text"))
    # Guard BEFORE sequence(): Spark's sequence(1, 0) counts DOWN to
    # [1, 0] and index 0 / out-of-bounds element_at throws under ANSI.
    pairs = (
        docs.select(w.alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - 1),
                    # 2-node gram builder (see text.shingles): byte-equal
                    # to concat_ws over the two element_at lookups
                    lambda i: F.array_join(F.slice(F.col("w"), i, 2), " "),
                )
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair").asc())
        .limit(20)
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH {_TOKS_CTE},
    terms AS (
      SELECT doc_id, unnest(w) AS term FROM toks),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df) * 1e6) / 1e6 AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term ASC) AS rn
      FROM scored)
    SELECT doc_id, term, tfidf FROM ranked WHERE rn <= 3
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document. Scale shape: the vocabulary
    document-frequency table shuffle-joins on term (AQE picks broadcast
    when it happens to be small — a 100 TB corpus vocabulary is NOT), and
    n_docs folds in as a 1-row aggregate cross-join instead of a separate
    driver-side count job. idf quantized via round(x·1e6)/1e6 for
    cross-engine log parity."""
    docs = _t(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(TX.words(F.col("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = terms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    tfidf = (
        F.round(
            F.col("tf") * F.log(F.col("n_docs") / F.col("df")) * F.lit(1e6), 0
        )
        / 1e6
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        tf.join(df_, "term")
        .crossJoin(n)
        .withColumn("tfidf", tfidf)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


# Shared lexical-retrieval CTE prefix: postings + corpus stats derived
# FROM the postings (n_docs counts docs with >= 1 token — identical to the
# Spark side, which derives both from the same posting frame). BM25
# literals (2.2 / 1.2 / 0.25 / 0.75) and operation order mirror
# operators/retrieval.py::_bm25_term_score verbatim.
_BM25_CTES = f"""{_TOKS_CTE},
    dl AS (SELECT doc_id, len(w) AS dlen, w FROM toks),
    post AS (
      SELECT doc_id, term, MIN(dlen) AS dlen, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, dlen, unnest(w) AS term FROM dl) GROUP BY 1, 2),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(dlen) AS DOUBLE) / COUNT(*) AS avglen
      FROM (SELECT doc_id, MIN(dlen) AS dlen FROM post GROUP BY 1))"""

_BM25_SCORE = (
    "ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))"
    " * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dlen / avglen))"
)


@register(
    "bm25_keyword_topk",
    oracle=f"""
    WITH {_BM25_CTES},
    terms(term) AS (VALUES ('vector'), ('stream'), ('window'), ('hash')),
    hits AS (SELECT p.* FROM post p JOIN terms USING (term)),
    df_tbl AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
               FROM hits GROUP BY term),
    scored AS (
      SELECT term, doc_id, ROUND({_BM25_SCORE} * 1e6) / 1e6 AS bm25
      FROM hits JOIN df_tbl USING (term) CROSS JOIN stats),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY term
                                   ORDER BY bm25 DESC, doc_id ASC) AS rn
      FROM scored)
    SELECT term, doc_id, bm25 FROM ranked WHERE rn <= 10
    """,
)
def q_bm25_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 keyword search, top-10 per query term — the lexical
    half of the reference's retrieval surface (tool_definitions.py:12's
    ``keyword`` search parameter; helpers.py:46-60's keyword routing),
    Spark-native: one postings shuffle, broadcast df/stats, per-term
    window. Scores rounded to 1e-6 BEFORE ranking so the float ln is
    never the tie-breaker (operators/retrieval.py module docstring)."""
    return RT.bm25_topk(
        _t(spark, sf_dir, "documents"),
        terms=["vector", "stream", "window", "hash"],
        k=10,
    )


def _bm25_persisted_oracle_sql(index_name: str, with_deltas: bool) -> str:
    # Both-engines-read-the-persisted-files discipline (index_sink_audit /
    # ivf_sq8_index_audit): score BM25 from the EXACT postings/stats
    # files the Spark query just wrote at the driver's sf0.01 — df
    # derived from the term-filtered posting rows (the search's own
    # definition, exact across segments), (n_docs, avglen) recombined
    # from the mergeable per-segment integer stats rows.
    base = f"{_INDEX_ROOT}/sf0.01/{index_name}"
    delta_post = (
        f"""
      UNION ALL
      SELECT doc_id, term, dlen, tf
      FROM read_parquet('{base}/delta/*/postings/*/*.parquet',
                        hive_partitioning = 1)"""
        if with_deltas
        else ""
    )
    delta_stats = (
        f"""
      UNION ALL
      SELECT n_docs, dlen_sum
      FROM read_parquet('{base}/delta/*/stats/*.parquet')"""
        if with_deltas
        else ""
    )
    return f"""
    WITH post AS (
      SELECT doc_id, term, dlen, tf
      FROM read_parquet('{base}/postings/*/*.parquet', hive_partitioning = 1)
      {delta_post}),
    stats AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS n_docs,
             CAST(SUM(dlen_sum) AS DOUBLE) / SUM(n_docs) AS avglen
      FROM (SELECT n_docs, dlen_sum
            FROM read_parquet('{base}/stats/*.parquet')
            {delta_stats})),
    terms(term) AS (VALUES ('vector'), ('stream'), ('window'), ('hash')),
    hits AS (SELECT p.* FROM post p JOIN terms USING (term)),
    df_tbl AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
               FROM hits GROUP BY term),
    scored AS (
      SELECT term, doc_id, ROUND({_BM25_SCORE} * 1e6) / 1e6 AS bm25
      FROM hits JOIN df_tbl USING (term) CROSS JOIN stats),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY term
                                   ORDER BY bm25 DESC, doc_id ASC) AS rn
      FROM scored)
    SELECT term, doc_id, bm25 FROM ranked WHERE rn <= 10
    """


@register(
    "bm25_search_persisted",
    oracle=_bm25_persisted_oracle_sql("postings_index", with_deltas=False),
)
def q_bm25_search_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED inverted-index layout, hash-green end to end: write
    the corpus's postings once (`retrieval.write_postings_index` —
    hive-partitioned by md5-term-bucket, one file per bucket, mergeable
    per-segment stats beside them), then answer the same four-term query
    as `bm25_keyword_topk` by reading ONLY the query terms' bucket
    partitions (`bm25_search_persisted` — partition pruning at the
    directory level, term filter at the row groups, df derived from the
    scanned rows, the stats read inlined as two literals). Values are
    identical to the from-scratch query by construction — what this row
    certifies is the LAYOUT: both engines re-derive the ranking from the
    same persisted files. At 100 TB the corpus is read once at write
    time; every search after that pays |terms|/32 of the index's bytes
    (pruning proven in tests/test_retrieval.py::
    test_persisted_bm25_prunes_buckets_and_matches)."""
    import os

    from backend_fastapi_spark.operators.retrieval import (
        bm25_search_persisted,
        write_postings_index,
    )

    base_dir = os.path.join(
        _INDEX_ROOT,
        os.path.basename(sf_dir.rstrip("/")) or "sf",
        "postings_index",
    )
    _build_once(
        "bm25_search_persisted",
        sf_dir,
        lambda: write_postings_index(
            _t(spark, sf_dir, "documents"), base_dir, mode="overwrite"
        ),
        index_dirs=(base_dir,),
    )
    return bm25_search_persisted(
        spark, base_dir, terms=["vector", "stream", "window", "hash"], k=10
    )


@register(
    "bm25_postings_delta",
    oracle=_bm25_persisted_oracle_sql("postings_delta_index",
                                      with_deltas=True),
)
def q_bm25_postings_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental lexical-index GROWTH hash-green (`postings_append` —
    the ivf_append_audit analog for the keyword side of the reference's
    add-documents path): build the base index over the EVEN doc_ids,
    append the ODD doc_ids as an idempotent `_COMMITTED`-marked delta
    segment (the append is run TWICE with the same batch token — the
    at-least-once retry must replace itself, not double the rows), then
    search base + delta with df and (n_docs, avglen) derived across
    segments. The ranking must equal `bm25_keyword_topk` over the whole
    corpus (asserted value-level in tests/test_retrieval.py::
    test_postings_append_grows_index_idempotently); here both engines
    re-derive it from the same persisted base + delta files. The base
    postings are never read or rewritten by the append — O(batch) grow,
    the streaming-ingest contract."""
    import os

    from backend_fastapi_spark.operators.retrieval import (
        bm25_search_persisted,
        postings_append,
        write_postings_index,
    )

    base_dir = os.path.join(
        _INDEX_ROOT,
        os.path.basename(sf_dir.rstrip("/")) or "sf",
        "postings_delta_index",
    )
    docs = _t(spark, sf_dir, "documents")

    def build():
        write_postings_index(
            docs.filter(F.col("doc_id") % 2 == 0), base_dir, mode="overwrite"
        )
        odd = docs.filter(F.col("doc_id") % 2 == 1)
        postings_append(spark, base_dir, odd, batch_token=0)
        postings_append(spark, base_dir, odd, batch_token=0)  # idempotent retry

    _build_once("bm25_postings_delta", sf_dir, build,
                index_dirs=(base_dir,))
    return bm25_search_persisted(
        spark, base_dir, terms=["vector", "stream", "window", "hash"], k=10
    )


def _champion_base() -> str:
    # Both-engines-read-the-persisted-files discipline (the
    # bm25_search_persisted precedent): the oracle re-ranks the EXACT
    # champion rows the Spark query wrote at the driver's sf0.01.
    return f"{_INDEX_ROOT}/sf0.01/champion_index"


def _build_champion(spark: SparkSession, sf_dir: str) -> str:
    import os

    from backend_fastapi_spark.operators.retrieval import (
        write_champion_index,
    )

    base_dir = os.path.join(
        _INDEX_ROOT,
        os.path.basename(sf_dir.rstrip("/")) or "sf",
        "champion_index",
    )
    _build_once(
        "champion_index",
        sf_dir,
        lambda: write_champion_index(
            _t(spark, sf_dir, "documents"), base_dir, r=32,
            mode="overwrite",
        ),
        index_dirs=(base_dir,),
    )
    return base_dir


@register(
    "bm25_champion_topk",
    oracle=f"""
    WITH post AS (
      SELECT doc_id, term, impact
      FROM read_parquet('{_champion_base()}/postings/*/*.parquet',
                        hive_partitioning = 1)),
    terms(term) AS (VALUES ('vector'), ('stream'), ('window'), ('hash')),
    hits AS (SELECT p.* FROM post p JOIN terms USING (term)),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY term
                                   ORDER BY impact DESC, doc_id ASC) AS rn
      FROM hits)
    SELECT term, doc_id, impact AS bm25 FROM ranked WHERE rn <= 10
    """,
)
def q_bm25_champion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impact-ordered champion lists (static index pruning — IIR §7.1.3 /
    Anh & Moffat), hash-green end to end: write the per-term top-32
    postings by PRECOMPUTED BM25 impact once
    (`retrieval.write_champion_index` — same md5-bucket hive layout as
    the full postings index, but each row is just (doc_id, term,
    impact): tf/dlen/df frozen into the stored score at build), then
    answer the same four-term query as `bm25_keyword_topk` from ≤ 32
    rows per term (`bm25_search_champion`). Exact for k ≤ r by
    construction — the per-term BM25 ranking is fully decided at build
    time, so the champion prefix IS the ranking prefix (value-equality
    vs the full index asserted in tests/test_retrieval.py::
    test_champion_topk_exact_up_to_r). What this row certifies is the
    LAYOUT: both engines re-rank the same persisted impact rows. At
    100 TB the probe is O(|terms|·r) rows regardless of df — the
    bounded-latency form of the reference's keyword search
    (tools/tool_definitions.py:12) that the O(df) full index cannot
    offer on high-df terms."""
    from backend_fastapi_spark.operators.retrieval import (
        bm25_search_champion,
    )

    base_dir = _build_champion(spark, sf_dir)
    return bm25_search_champion(
        spark, base_dir, terms=["vector", "stream", "window", "hash"], k=10
    )


@register(
    "bm25_champion_sum_topk",
    oracle=f"""
    WITH post AS (
      SELECT doc_id, term, impact
      FROM read_parquet('{_champion_base()}/postings/*/*.parquet',
                        hive_partitioning = 1)),
    terms(term) AS (VALUES ('vector'), ('stream'), ('window'), ('hash')),
    hits AS (SELECT p.* FROM post p JOIN terms USING (term)),
    summed AS (
      SELECT doc_id,
             ROUND(CAST(SUM(CAST(impact AS DECIMAL(30,12))) AS DOUBLE)
                   * 1e6) / 1e6 AS kw
      FROM hits GROUP BY doc_id),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY kw DESC, doc_id ASC) AS rn
      FROM summed)
    SELECT doc_id, kw FROM ranked WHERE rn <= 10
    """,
)
def q_bm25_champion_sum_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-term BM25 from the champion index (`bm25_champion_score`):
    per-doc decimal-accumulated sum of the stored per-term impacts,
    top-10 with the registry tie-break — `bm25_score_query`'s serving
    shape at the O(|terms|·r)-row probe cost. APPROXIMATE by the
    champion contract (docs outside every term's top-r are invisible;
    the approximation is bounded in tests/test_retrieval.py::
    test_champion_sum_recall) — but DETERMINISTIC given the persisted
    index, so the oracle certifies the summation/ranking exactly: both
    engines sum the same persisted impact rows in exact decimal. The
    final rank is a single-partition window over ≤ |terms|·r summed
    rows — bounded, the fusion-stage discipline."""
    from backend_fastapi_spark.operators.retrieval import (
        bm25_champion_score,
    )

    base_dir = _build_champion(spark, sf_dir)
    return bm25_champion_score(
        spark, base_dir, terms=["vector", "stream", "window", "hash"], k=10
    )


@register(
    "hybrid_rrf_topk",
    oracle=f"""
    WITH {_BM25_CTES},
    df_tbl AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
               FROM post GROUP BY term),
    qterms AS (SELECT doc_id AS q_id, term FROM post WHERE doc_id < 5),
    kw_scored AS (
      SELECT qt.q_id, p.doc_id,
             ROUND(CAST(SUM(CAST({_BM25_SCORE} AS DECIMAL(30,12)))
                        AS DOUBLE) * 1e6) / 1e6 AS kw
      FROM qterms qt
      JOIN post p ON p.term = qt.term AND p.doc_id <> qt.q_id
      JOIN df_tbl d ON d.term = qt.term
      CROSS JOIN stats
      GROUP BY qt.q_id, p.doc_id),
    kw_rank AS (
      SELECT q_id, doc_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY kw DESC, doc_id ASC) AS r
      FROM kw_scored QUALIFY r <= 50),
    qv AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
           WHERE vec_id < 5),
    vec_scored AS (
      SELECT qv.q_id, e.vec_id AS doc_id,
             {_DOT_I64_SQL.format(a='e.embedding', b='qv.qe')} AS s
      FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> qv.q_id),
    vec_rank AS (
      SELECT q_id, doc_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY s DESC, doc_id ASC) AS r
      FROM vec_scored QUALIFY r <= 50),
    contrib AS (
      SELECT q_id, doc_id, 1.0 / (60.0 + r) AS c FROM kw_rank
      UNION ALL
      SELECT q_id, doc_id, 1.0 / (60.0 + r) AS c FROM vec_rank),
    fused AS (
      SELECT q_id, doc_id,
             ROUND(CAST(SUM(CAST(c AS DECIMAL(30,12))) AS DOUBLE) * 1e6)
               / 1e6 AS rrf
      FROM contrib GROUP BY 1, 2)
    SELECT q_id, doc_id, rrf FROM fused
    QUALIFY row_number() OVER (PARTITION BY q_id
                               ORDER BY rrf DESC, doc_id ASC) <= 10
    """,
)
def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25-over-query-document-terms fused with exact
    cosine kNN by reciprocal-rank fusion (RRF, k=60), top-10 per query —
    the keyword+vector surface the reference splits across its keyword
    tools and FAISS RAG path, as ONE ranked result. Queries are docs
    0-4 (doc_id ≡ vec_id in the testdata). Scale shape: the lexical leg
    is the inverted-index equi-join (postings ⋈ query terms on term),
    the vector leg knn_exact's in-place corpus scan; both rank lists are
    |Q|·50 rows, so the fusion is a union + tiny groupBy — rank-based,
    immune to the two retrievers' score-scale mismatch."""
    query_ids = [0, 1, 2, 3, 4]
    kw = RT.bm25_pairs(_t(spark, sf_dir, "documents"), query_ids)
    kw_rank = RT.rank_topn(kw, "kw", 50)
    vec = V.knn_exact(
        _t(spark, sf_dir, "embeddings"),
        _query_vectors(spark, sf_dir, 5),
        k=50,
    ).select("q_id", F.col("vec_id").alias("doc_id"), "score_i64")
    vec_rank = RT.rank_topn(vec, "score_i64", 50)
    fused = RT.rrf_fuse([kw_rank, vec_rank])
    w = Window.partitionBy("q_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 10)
        .select("q_id", "doc_id", "rrf")
    )


def _hybrid_fused_ctes(lex_name: str, ivf_name: str) -> str:
    # The shared persisted-hybrid CTE chain, ending at ``fused``: BM25
    # re-derived from the postings/stats layout the Spark query just
    # wrote (df from the term-filtered rows, stats recombined), the
    # vector leg from the IVF index's inverted lists (full probe ⇒ exact
    # fixed-point top-50, so the oracle is independent of the KMeans
    # clustering RNG), fused by RRF k=60 exactly like hybrid_rrf_topk.
    # Shared by hybrid_search_persisted and hybrid_rag_end_to_end (each
    # against its own index dirs — no cross-query file coupling in the
    # driver sweep).
    lex = f"{_INDEX_ROOT}/sf0.01/{lex_name}"
    ivf = f"{_INDEX_ROOT}/sf0.01/{ivf_name}"
    return f"""
    qmap(q_id, term) AS (
      VALUES (0, 'vector'), (1, 'stream'), (2, 'window'), (3, 'hash')),
    post AS (
      SELECT doc_id, term, dlen, tf
      FROM read_parquet('{lex}/postings/*/*.parquet', hive_partitioning = 1)),
    stats AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS n_docs,
             CAST(SUM(dlen_sum) AS DOUBLE) / SUM(n_docs) AS avglen
      FROM read_parquet('{lex}/stats/*.parquet')),
    hits AS (SELECT p.* FROM post p JOIN qmap USING (term)),
    df_tbl AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
               FROM hits GROUP BY term),
    kw_scored AS (
      SELECT term, doc_id, ROUND({_BM25_SCORE} * 1e6) / 1e6 AS bm25
      FROM hits JOIN df_tbl USING (term) CROSS JOIN stats),
    kw_rank AS (
      SELECT q.q_id, s.doc_id,
             row_number() OVER (PARTITION BY s.term
                                ORDER BY s.bm25 DESC, s.doc_id ASC) AS r
      FROM kw_scored s JOIN qmap q USING (term) QUALIFY r <= 50),
    qv AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
           WHERE vec_id < 4),
    lists AS (
      SELECT vec_id, embedding
      FROM read_parquet('{ivf}/lists/*/*.parquet', hive_partitioning = 1)),
    vec_scored AS (
      SELECT qv.q_id, e.vec_id AS doc_id,
             {_DOT_I64_SQL.format(a='e.embedding', b='qv.qe')} AS s
      FROM lists e CROSS JOIN qv),
    vec_rank AS (
      SELECT q_id, doc_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY s DESC, doc_id ASC) AS r
      FROM vec_scored QUALIFY r <= 50),
    contrib AS (
      SELECT q_id, doc_id, 1.0 / (60.0 + r) AS c FROM kw_rank
      UNION ALL
      SELECT q_id, doc_id, 1.0 / (60.0 + r) AS c FROM vec_rank),
    fused AS (
      SELECT q_id, doc_id,
             ROUND(CAST(SUM(CAST(c AS DECIMAL(30,12))) AS DOUBLE) * 1e6)
               / 1e6 AS rrf
      FROM contrib GROUP BY 1, 2)"""


def _hybrid_persisted_oracle_sql() -> str:
    return f"""
    WITH {_hybrid_fused_ctes("hybrid_lex_index", "hybrid_ivf_index")}
    SELECT q_id, doc_id, rrf FROM fused
    QUALIFY row_number() OVER (PARTITION BY q_id
                               ORDER BY rrf DESC, doc_id ASC) <= 10
    """


@register("hybrid_search_persisted", oracle=_hybrid_persisted_oracle_sql())
def q_hybrid_search_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION hybrid-search shape end to end, hash-green: one
    query = (keyword, query vector) answered from TWO write-once
    persisted indexes — the bucket-pruned postings index (lexical leg)
    and the cluster-partitioned IVF index (vector leg) — fused by RRF
    k=60. This is the reference's keyword tools + FAISS store as one
    serving path over on-disk indexes (tool_definitions.py:12,
    enhanced_internal_db_service.py's FAISS search), where
    hybrid_rrf_topk certified the same fusion from scratch. Four hybrid
    queries: q_id i pairs term_i with embedding i. The vector leg probes
    ALL clusters (nprobe = k_clusters) so its ranking is the exact
    fixed-point top-50 and the oracle is independent of the KMeans RNG —
    partition-pruned probing is separately hash-certified
    (ann_ivf_sq8_top10 via deterministic medoids); what THIS row
    certifies is the two persisted layouts answering one fused query,
    both engines reading the same index files."""
    import os

    from backend_fastapi_spark.operators.ivf import (
        build_ivf,
        ivf_search_persisted,
        write_ivf_index,
    )
    from backend_fastapi_spark.operators.retrieval import (
        bm25_search_persisted,
        rank_topn,
        rrf_fuse,
        write_postings_index,
    )

    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    lex_dir = os.path.join(_INDEX_ROOT, sf_tag, "hybrid_lex_index")
    ivf_dir = os.path.join(_INDEX_ROOT, sf_tag, "hybrid_ivf_index")
    terms = ["vector", "stream", "window", "hash"]
    qmap = local_frame(spark, list(enumerate(terms)), "q_id long, term string")

    def build():
        write_postings_index(
            _t(spark, sf_dir, "documents"), lex_dir, mode="overwrite"
        )
        emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        assigned, centroids = build_ivf(emb, k_clusters=8)
        write_ivf_index(assigned, centroids, ivf_dir, mode="overwrite")

    _build_once("hybrid_search_persisted", sf_dir, build,
                index_dirs=(lex_dir, ivf_dir))

    kw = (
        bm25_search_persisted(spark, lex_dir, terms, k=50)
        .join(F.broadcast(qmap), "term")
        .select("q_id", "doc_id", "bm25")
    )
    kw_rank = rank_topn(kw, "bm25", 50)
    vec = ivf_search_persisted(
        spark, ivf_dir, _query_vectors(spark, sf_dir, 4), k=50, nprobe=8
    ).select("q_id", F.col("vec_id").alias("doc_id"), "score_i64")
    vec_rank = rank_topn(vec, "score_i64", 50)
    fused = rrf_fuse([kw_rank, vec_rank])
    w = Window.partitionBy("q_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 10)
        .select("q_id", "doc_id", "rrf")
    )


def _hybrid_e2e_oracle_sql() -> str:
    # The §3.1 serving chain continued past fusion, every stage mirrored:
    # top-10 fuse → floor/relative-margin cut (topk_margin's exact
    # expression: keep rrf >= greatest(best - m, best·(1-m)) over the
    # FLOORED rows, spelled `(1 - 0.6)` so both engines compute the same
    # double) → per-query round-robin source diversification → 1800-char
    # context packing with the min-remainder truncation rule
    # (internal_db_service.py:386-391) → 《S{i}》 marker assembly
    # (enhanced_internal_db_service.py:796-809).
    return f"""
    WITH {_hybrid_fused_ctes("e2e_lex_index", "e2e_ivf_index")},
    fused10 AS (
      SELECT q_id, doc_id, rrf FROM fused
      QUALIFY row_number() OVER (PARTITION BY q_id
                                 ORDER BY rrf DESC, doc_id ASC) <= 10),
    floored AS (SELECT * FROM fused10 WHERE rrf >= 0.01),
    best AS (SELECT q_id, MAX(rrf) AS best FROM floored GROUP BY q_id),
    cutk AS (
      SELECT f.q_id, f.doc_id, f.rrf
      FROM floored f JOIN best b USING (q_id)
      WHERE f.rrf >= greatest(b.best - 0.6, b.best * (1 - 0.6))
      QUALIFY row_number() OVER (PARTITION BY f.q_id
                                 ORDER BY f.rrf DESC, f.doc_id ASC) <= 8),
    joined AS (
      SELECT c.q_id, c.doc_id, c.rrf, d.source, d.text,
             CAST(d.n_chars AS BIGINT) AS n_chars
      FROM cutk c JOIN documents d USING (doc_id)),
    divers AS (
      SELECT *, row_number() OVER (PARTITION BY q_id, source
                                   ORDER BY rrf DESC, doc_id ASC) AS grp_rank
      FROM joined QUALIFY grp_rank <= 2),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY grp_rank ASC, rrf DESC,
                                            doc_id ASC) AS ctx_rank
      FROM divers QUALIFY ctx_rank <= 6),
    packed AS (
      SELECT *, SUM(n_chars) OVER (PARTITION BY q_id ORDER BY ctx_rank
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum
      FROM ranked),
    kept AS (
      SELECT *, CAST(CASE WHEN cum <= 1800 THEN n_chars
                          ELSE 1800 - (cum - n_chars) END AS BIGINT)
               AS packed_chars
      FROM packed
      WHERE cum <= 1800 OR 1800 - (cum - n_chars) > 100)
    SELECT q_id, CAST(ctx_rank AS INTEGER) AS ctx_rank, doc_id, rrf,
           packed_chars,
           '《S' || CAST(ctx_rank AS VARCHAR) || '》[id=' ||
           CAST(doc_id AS VARCHAR) || '] [src=' || source || '] ' ||
           CASE WHEN packed_chars < n_chars
                THEN substr(text, 1, CAST(packed_chars AS INT)) || '…'
                ELSE text END AS doc_line
    FROM kept
    """


@register("hybrid_rag_end_to_end", oracle=_hybrid_e2e_oracle_sql())
def q_hybrid_rag_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL §3.1 serving chain over the persisted indexes as ONE plan
    (VERDICT r11 directive #8) — every stage already hash-green on its
    own, here composed and certified end to end:

    persisted hybrid retrieval (bucket-pruned postings + IVF lists, RRF
    k=60, top-10 per query — hybrid_search_persisted's shape) →
    similarity floor 0.01 + relative margin 0.6 cut, top-8
    (topk_margin, enhanced_internal_db_service.py:689-727) → per-query
    round-robin source diversification, cap 2/source, top-6
    (enhanced:765-794) → 1800-char context packing with the
    min-remainder truncation rule (internal_db_service.py:386-391,
    applied AFTER diversification exactly as the reference's serving
    path does at enhanced:796-809) → 《S{i}》 marker line assembly.

    Scale shape: both retrieval legs are index-pruned scans; everything
    after fusion operates on ≤ |Q|·10 rows (windows partitioned by
    q_id), with one broadcast join against documents to fetch
    text/source for at most |Q|·8 ids — the corpus is touched only
    through the two persisted indexes and that pointwise fetch."""
    import os

    from backend_fastapi_spark.operators.ivf import (
        build_ivf,
        ivf_search_persisted,
        write_ivf_index,
    )
    from backend_fastapi_spark.operators.relational import topk_margin
    from backend_fastapi_spark.operators.retrieval import (
        bm25_search_persisted,
        rank_topn,
        rrf_fuse,
        write_postings_index,
    )

    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    lex_dir = os.path.join(_INDEX_ROOT, sf_tag, "e2e_lex_index")
    ivf_dir = os.path.join(_INDEX_ROOT, sf_tag, "e2e_ivf_index")
    terms = ["vector", "stream", "window", "hash"]
    qmap = local_frame(spark, list(enumerate(terms)), "q_id long, term string")

    def build():
        write_postings_index(
            _t(spark, sf_dir, "documents"), lex_dir, mode="overwrite"
        )
        emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        assigned, centroids = build_ivf(emb, k_clusters=8)
        write_ivf_index(assigned, centroids, ivf_dir, mode="overwrite")

    _build_once("hybrid_rag_end_to_end", sf_dir, build,
                index_dirs=(lex_dir, ivf_dir))

    # stage 1 — persisted hybrid retrieval, top-10 per query
    kw = (
        bm25_search_persisted(spark, lex_dir, terms, k=50)
        .join(F.broadcast(qmap), "term")
        .select("q_id", "doc_id", "bm25")
    )
    kw_rank = rank_topn(kw, "bm25", 50)
    vec = ivf_search_persisted(
        spark, ivf_dir, _query_vectors(spark, sf_dir, 4), k=50, nprobe=8
    ).select("q_id", F.col("vec_id").alias("doc_id"), "score_i64")
    vec_rank = rank_topn(vec, "score_i64", 50)
    fused = rrf_fuse([kw_rank, vec_rank])
    w10 = Window.partitionBy("q_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    fused10 = (
        fused.withColumn("_rn", F.row_number().over(w10))
        .filter(F.col("_rn") <= 10)
        .select("q_id", "doc_id", "rrf")
    )

    # stage 2 — floor + relative margin cut, top-8 per query
    cutk = topk_margin(
        fused10, "rrf", k=8, margin=0.6, floor=0.01,
        tie_col="doc_id", partition_col="q_id",
    )

    # stage 3 — fetch text/source (broadcast the tiny id set), then
    # per-query round-robin source diversification (cap 2, top 6)
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", F.col("n_chars").cast("long").alias("n_chars")
    )
    joined = docs.join(F.broadcast(cutk), "doc_id")
    w_src = Window.partitionBy("q_id", "source").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    w_q = Window.partitionBy("q_id").orderBy(
        F.col("grp_rank").asc(), F.col("rrf").desc(), F.col("doc_id").asc()
    )
    ranked = (
        joined.withColumn("grp_rank", F.row_number().over(w_src))
        .filter(F.col("grp_rank") <= 2)
        .withColumn("ctx_rank", F.row_number().over(w_q))
        .filter(F.col("ctx_rank") <= 6)
    )

    # stage 4 — 1800-char packing in the diversified emit order, with
    # the min-remainder truncation rule
    w_cum = (
        Window.partitionBy("q_id")
        .orderBy("ctx_rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    budget = F.lit(1800)
    packed = (
        ranked.withColumn("cum", F.sum("n_chars").over(w_cum))
        .filter(
            (F.col("cum") <= budget)
            | (budget - (F.col("cum") - F.col("n_chars")) > 100)
        )
        .withColumn(
            "packed_chars",
            F.when(F.col("cum") <= budget, F.col("n_chars"))
            .otherwise(budget - (F.col("cum") - F.col("n_chars")))
            .cast("long"),
        )
    )

    # stage 5 — 《S{i}》 marker line assembly
    truncated = F.when(
        F.col("packed_chars") < F.col("n_chars"),
        F.concat(
            F.substring(
                F.col("text"), 1, F.col("packed_chars").cast("int")
            ),
            F.lit("…"),
        ),
    ).otherwise(F.col("text"))
    return packed.select(
        "q_id",
        "ctx_rank",
        "doc_id",
        "rrf",
        "packed_chars",
        F.concat(
            F.lit("《S"),
            F.col("ctx_rank").cast("string"),
            F.lit("》[id="),
            F.col("doc_id").cast("string"),
            F.lit("] [src="),
            F.col("source"),
            F.lit("] "),
            truncated,
        ).alias("doc_line"),
    )


@register(
    "mmr_diversified_topk",
    oracle=f"""
    WITH RECURSIVE
    qv AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
           WHERE vec_id < 3),
    cand AS (
      SELECT * FROM (
        SELECT qv.q_id, e.vec_id, e.embedding,
               {_DOT_I64_SQL.format(a='e.embedding', b='qv.qe')} AS rel_i64,
               row_number() OVER (
                 PARTITION BY qv.q_id
                 ORDER BY {_DOT_I64_SQL.format(a='e.embedding', b='qv.qe')}
                            DESC, e.vec_id ASC) AS rn
        FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> qv.q_id)
      WHERE rn <= 20),
    sim AS (
      SELECT a.q_id AS sq_id, a.vec_id AS a_id, b.vec_id AS b_id,
             {_DOT_I64_SQL.format(a='a.embedding', b='b.embedding')} AS sim_i64
      FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id),
    -- greedy MMR, lambda = 0.5: argmax of 0.5*rel - 0.5*maxsim ranks as
    -- (rel_i64 - maxsim_i64) — pure int64, no float anywhere
    sel(q_id, step, sel_list) AS (
      SELECT q_id, 0, [vec_id] FROM cand WHERE rn = 1
      UNION ALL
      SELECT s.q_id, s.step + 1,
             list_append(s.sel_list, (
               SELECT c.vec_id FROM cand c
               WHERE c.q_id = s.q_id
                 AND NOT list_contains(s.sel_list, c.vec_id)
               ORDER BY (c.rel_i64 - (
                   SELECT MAX(si.sim_i64) FROM sim si
                   WHERE si.sq_id = s.q_id AND si.a_id = c.vec_id
                     AND list_contains(s.sel_list, si.b_id))) DESC,
                 c.vec_id ASC
               LIMIT 1))
      FROM sel s WHERE s.step < 4),
    final AS (SELECT q_id AS fq_id, sel_list FROM sel WHERE step = 4),
    flat AS (
      SELECT fq_id, unnest(sel_list) AS vec_id,
             generate_subscripts(sel_list, 1) AS pos
      FROM final)
    SELECT fl.fq_id AS q_id, CAST(fl.pos - 1 AS INTEGER) AS mmr_rank,
           fl.vec_id AS vec_id, c.rel_i64 AS rel_i64
    FROM flat fl JOIN cand c ON c.q_id = fl.fq_id AND c.vec_id = fl.vec_id
    """,
)
def q_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance rerank (λ=0.5): greedy-select 5 of the
    exact-kNN top-20, trading relevance against similarity to the already
    selected — the diversity rerank RAG retrievers run between recall and
    prompt assembly (reference analog: rag_service's retriever feeding
    doc assembly; W2's round-robin diversification is the grouped-attr
    cousin). Entirely fixed-point int64 (quantized in Spark via
    kernel.quantize, the knn_exact pattern), so the greedy argmax chain
    is exact in both engines; the oracle re-derives it as a recursive
    CTE over the candidate prefix sums. Scale shape: corpus scanned once in place by
    knn_exact; the greedy loop touches only |Q| groups of 20 rows."""
    return RT.mmr_topk(
        _t(spark, sf_dir, "embeddings"),
        _query_vectors(spark, sf_dir, 3),
        shortlist=20,
        select=5,
    )


@register(
    "asof_join_events_orders",
    oracle="""
    WITH o1 AS (  -- one order per (user, date): ASOF tie-breaks on equal
                  -- timestamps are implementation-defined, so remove them
      SELECT * FROM (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1)
    SELECT e.event_id, e.user_id, e.ts,
           o.o_orderdate AS asof_o_orderdate,
           o.o_orderkey AS asof_o_orderkey,
           o.o_totalprice AS asof_o_totalprice
    FROM events e
    ASOF JOIN o1 o
      ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    """,
)
def q_asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator, operators/asof.py): each event matched
    to the user's most recent order at or before the event time — one
    keyed-window pass over the union, oracle = DuckDB's native ASOF JOIN."""
    from backend_fastapi_spark.operators.asof import asof_join

    events = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    w_dedup = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.col("o_orderkey").desc()
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .withColumn("_rn", F.row_number().over(w_dedup))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("o_custkey").alias("user_id"),
            "o_orderdate",
            "o_orderkey",
            "o_totalprice",
        )
    )
    return asof_join(
        events,
        orders,
        key="user_id",
        left_time="ts",
        right_time="o_orderdate",
        payload_cols=["o_orderkey", "o_totalprice"],
        tie_col="o_orderkey",
    )


# ---------------------------------------------------------------------------
# Training-corpus pipeline: splits, sampling, decontamination, quality,
# dedup clustering (operators/pipeline.py, operators/dedup.py)
# ---------------------------------------------------------------------------

_SPLIT_SQL = (
    "CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1') "
    "THEN 'test' ELSE 'train' END"
)


@register(
    "train_test_split_counts",
    oracle=f"""
    SELECT lang, {_SPLIT_SQL} AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1, 2
    """,
)
def q_train_test_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/test split (md5-prefix membership,
    12.5% test): stable under re-runs, insertions, and any partitioning —
    no RNG state, no driver-side shuffle. Per-(lang, split) counts."""
    from backend_fastapi_spark.operators.pipeline import split_assign

    docs = split_assign(_t(spark, sf_dir, "documents"))
    return docs.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "stratified_sample_langs",
    oracle="""
    SELECT doc_id, lang, sample_rank FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS sample_rank
      FROM documents) WHERE sample_rank <= 20
    """,
)
def q_stratified_sample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: 20 docs per language, ranked by
    md5(id) — the partitioning-independent reservoir-sample analog."""
    from backend_fastapi_spark.operators.pipeline import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", 20).select("doc_id", "lang", "sample_rank")


@register(
    "temperature_sample_langs",
    oracle=PL.temperature_sample_oracle_sql(
        "documents", "lang", "doc_id", "r.doc_id, r.lang, r.source"
    ),
)
def q_temperature_sample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based (alpha=0.5) language rebalancing — the mT5/XLM-R
    mixture-sampling move: sample half the corpus with per-language
    quotas proportional to sqrt(n_lang), lifting low-resource languages
    and damping the head (en holds 44% of docs but ~30% of the sample).
    Hash-exact despite the fractional exponent: IEEE requires sqrt to be
    correctly rounded, so the int64 fixed-point weights — and therefore
    every integer quota and md5-rank cutoff after them — are identical
    in both engines. One tiny groupBy + a 1-row scalar augment + one
    keyed window on lang; the corpus shuffles once."""
    from backend_fastapi_spark.operators.pipeline import temperature_sample

    docs = _t(spark, sf_dir, "documents")
    return temperature_sample(docs, "lang").select("doc_id", "lang", "source")


@register(
    "decontaminate_test_split",
    oracle=f"""
    WITH {_TOKS_CTE}, {_SHINGLES_CTE},
    split AS (SELECT doc_id, {_SPLIT_SQL} AS split FROM documents),
    train_sh AS (
      SELECT DISTINCT shingle FROM sh JOIN split USING (doc_id)
      WHERE split = 'train'),
    shared AS (
      SELECT sh.doc_id, COUNT(DISTINCT sh.shingle) AS n_shared
      FROM sh JOIN split USING (doc_id) JOIN train_sh USING (shingle)
      WHERE split = 'test' GROUP BY 1)
    SELECT s.doc_id,
           CAST(COALESCE(sh2.n_shared, 0) AS BIGINT) AS n_shared,
           COALESCE(sh2.n_shared, 0) > 0 AS contaminated
    FROM split s LEFT JOIN shared sh2 ON s.doc_id = sh2.doc_id
    WHERE s.split = 'test'
    """,
)
def q_decontaminate_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: flag test docs sharing any word-3-gram
    with the train split (the n-gram-overlap decontamination standard for
    eval sets). Shape: the shared shingle substrate equi-joined against
    the DISTINCT train shingle set — bucketed by shingle, never all-pairs;
    the hot-shingle cap story from the dedup family applies unchanged."""
    from backend_fastapi_spark.operators.pipeline import split_assign

    docs = split_assign(_t(spark, sf_dir, "documents"))
    splits = docs.select("doc_id", "split")
    sh = D.shingle_table(docs).join(splits, "doc_id")
    train_sh = sh.filter(F.col("split") == "train").select("shingle").distinct()
    shared = (
        sh.filter(F.col("split") == "test")
        .join(train_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("_n"))
    )
    return (
        docs.filter(F.col("split") == "test")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_shared"),
            (F.coalesce(F.col("_n"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


@register(
    "gopher_repetition_filter",
    oracle=f"""
    WITH {_TOKS_CTE},
    wc AS (
      SELECT doc_id, x AS g, COUNT(*) AS c
      FROM toks, LATERAL (SELECT unnest(w) AS x) t GROUP BY 1, 2),
    tw AS (SELECT doc_id, MAX(c) AS top_word_c FROM wc GROUP BY 1),
    bgc AS (
      SELECT doc_id, g, COUNT(*) AS c FROM (
        SELECT doc_id, w[i] || ' ' || w[i+1] AS g
        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w)-1)) AS i) t
        WHERE len(w) >= 2) GROUP BY 1, 2),
    tb AS (SELECT doc_id, MAX(c) AS top_bigram_c FROM bgc GROUP BY 1),
    base AS (
      -- COALESCE-to-0 on NULL-text docs: one metrics row PER INPUT DOC,
      -- mirroring repetition_metrics' degenerate-doc contract
      SELECT doc_id, CAST(COALESCE(len(w), 0) AS BIGINT) AS n_words,
             CAST(COALESCE(len(list_distinct(w)), 0) AS DOUBLE)
               / CAST(greatest(COALESCE(len(w), 0), 1) AS DOUBLE) AS distinct_ratio,
             CAST(COALESCE(list_aggregate(list_transform(w, x -> length(x)),
                                          'sum'), 0) AS DOUBLE)
               / CAST(greatest(COALESCE(len(w), 0), 1) AS DOUBLE) AS mean_word_len
      FROM toks)
    SELECT base.doc_id, n_words, distinct_ratio, mean_word_len,
           CAST(COALESCE(top_word_c, 0) AS DOUBLE)
             / CAST(greatest(n_words, 1) AS DOUBLE) AS top_word_frac,
           CAST(COALESCE(top_bigram_c, 0) AS DOUBLE)
             / CAST(greatest(n_words - 1, 1) AS DOUBLE) AS top_bigram_frac,
           (n_words >= 20
            AND CAST(COALESCE(top_word_c, 0) AS DOUBLE)
                / CAST(greatest(n_words, 1) AS DOUBLE) <= 0.11
            AND distinct_ratio >= 0.4) AS keep
    FROM base LEFT JOIN tw ON base.doc_id = tw.doc_id
    LEFT JOIN tb ON base.doc_id = tb.doc_id
    """,
)
def q_gopher_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/diversity quality filter: top-word fraction,
    top-bigram fraction, distinct ratio, mean word length, and a keep flag.
    Explode + per-(doc, gram) counts with map-side partial aggregation —
    cost bounded by distinct grams, no per-row O(len²) loop."""
    from backend_fastapi_spark.operators.pipeline import repetition_metrics

    m = repetition_metrics(_t(spark, sf_dir, "documents"))
    return m.withColumn(
        "keep",
        (F.col("n_words") >= 20)
        & (F.col("top_word_frac") <= 0.11)
        & (F.col("distinct_ratio") >= 0.4),
    )


# 8-gram shingle CTE for contamination checks (3-grams are too common in
# the synthetic vocabulary — full-corpus 3-gram decontamination empties
# the train split; 8-grams match the eval-decontamination standard of
# long n-grams and flag 7/422 train docs at sf0.01).
_SHINGLES8_CTE = (
    "sh8 AS (SELECT DISTINCT doc_id, "
    + " || ' ' || ".join(f"w[i+{j}]" for j in range(8))
    + " AS shingle8 "
    "FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w)-7)) AS i) t "
    "WHERE len(w) >= 8)"
)


@register(
    "corpus_curation_pipeline",
    oracle=f"""
    WITH {_TOKS_CTE}, {_SHINGLES_CTE}, {_SHINGLES8_CTE},
    wc AS (
      SELECT doc_id, x AS g, COUNT(*) AS c
      FROM toks, LATERAL (SELECT unnest(w) AS x) t GROUP BY 1, 2),
    tw AS (SELECT doc_id, MAX(c) AS top_word_c FROM wc GROUP BY 1),
    qbase AS (
      SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
             CAST(len(list_distinct(w)) AS DOUBLE)
               / CAST(greatest(len(w), 1) AS DOUBLE) AS distinct_ratio
      FROM toks),
    quality AS (
      SELECT qbase.doc_id FROM qbase JOIN tw USING (doc_id)
      WHERE n_words >= 20
        AND CAST(top_word_c AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE)
            <= 0.11
        AND distinct_ratio >= 0.4),
    exact_keep AS (
      SELECT doc_id FROM (
        SELECT d.doc_id,
               row_number() OVER (PARTITION BY md5(d.text)
                                  ORDER BY d.doc_id) AS rn
        FROM documents d JOIN quality q ON d.doc_id = q.doc_id)
      WHERE rn = 1),
    shq AS (SELECT s.* FROM sh s JOIN exact_keep k USING (doc_id)),
    sig AS (SELECT doc_id, {_SIG_COLS_SQL} FROM shq GROUP BY doc_id),
    near_removed AS (SELECT DISTINCT id_b FROM ({_BAND_JOINS_SQL})),
    near_keep AS (
      SELECT doc_id FROM exact_keep
      WHERE doc_id NOT IN (SELECT id_b FROM near_removed)),
    split AS (SELECT doc_id, {_SPLIT_SQL} AS split FROM documents),
    test_sh8 AS (
      SELECT DISTINCT shingle8 FROM sh8 JOIN split USING (doc_id)
      WHERE split = 'test'),
    cont AS (
      SELECT DISTINCT s.doc_id
      FROM sh8 s JOIN test_sh8 USING (shingle8)),
    decon AS (
      SELECT k.doc_id, d.lang
      FROM near_keep k
      JOIN split USING (doc_id)
      JOIN documents d ON d.doc_id = k.doc_id
      WHERE split = 'train'
        AND k.doc_id NOT IN (SELECT doc_id FROM cont)),
    dstats AS (
      SELECT lang, COUNT(*) AS n_g,
             CAST(ROUND(sqrt(CAST(COUNT(*) AS DOUBLE))*1000000) AS BIGINT)
               AS w_i64
      FROM decon GROUP BY lang),
    dtot AS (SELECT SUM(n_g) AS n_total, SUM(w_i64) AS w_total FROM dstats),
    squota AS (
      SELECT LEAST(n_g, CAST((CAST(n_total AS BIGINT) // 2)
               * CAST(w_i64 AS HUGEINT) // w_total AS BIGINT)) AS q
      FROM dstats, dtot)
    SELECT 'a_raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
    UNION ALL SELECT 'b_quality', CAST(COUNT(*) AS BIGINT) FROM quality
    UNION ALL SELECT 'c_exact_dedup', CAST(COUNT(*) AS BIGINT) FROM exact_keep
    UNION ALL SELECT 'd_near_dedup', CAST(COUNT(*) AS BIGINT) FROM near_keep
    UNION ALL SELECT 'e_decontaminated', CAST(COUNT(*) AS BIGINT) FROM decon
    UNION ALL SELECT 'f_sampled', CAST(COALESCE(SUM(q), 0) AS BIGINT) FROM squota
    """,
)
def q_corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-corpus curation flagship — every stage a
    first-class operator elsewhere in the registry, here chained the way
    a real pretraining pipeline runs them, with a per-stage survivor
    ledger as the output (the dashboard number a data curator actually
    reads): raw → Gopher quality gate → exact dedup (md5 group min) →
    MinHash near-dup prune → 8-gram test-set decontamination of the
    train split → alpha=0.5 temperature sample. Stage cardinalities at
    sf0.01: 500 → 198 → 198 (no exact dups in the corpus — honest
    zero-drop) → 189 → 162 → 79. Plan: each stage is a semi/anti join on
    doc_id against the previous survivor set; the shingle substrate is
    shared; nothing is collected."""
    from backend_fastapi_spark.operators.dedup import minhash_lsh_pairs
    from backend_fastapi_spark.operators.pipeline import (
        repetition_metrics,
        temperature_sample,
    )

    # The ledger union makes every stage a separate plan branch, and a
    # later stage's lineage contains ALL earlier stages — without a cut,
    # the quality scan runs ~5x and the MinHash chain ~3x (exchange
    # reuse only dedupes at shuffle boundaries). Materialize each tiny
    # id-set survivor AT ITS DEFINITION so every downstream stage and
    # ledger branch re-reads a few-hundred-row checkpoint instead of
    # re-running the chain. Counts are unchanged — the same
    # localCheckpoint/checkpoint cut the band joins use.
    from backend_fastapi_spark.operators.util import materialize

    docs = _t(spark, sf_dir, "documents")
    m = repetition_metrics(docs)
    quality = materialize(
        m.filter(
            (F.col("n_words") >= 20)
            & (F.col("top_word_frac") <= 0.11)
            & (F.col("distinct_ratio") >= 0.4)
        ).select("doc_id")
    )
    q_docs = docs.join(quality, "doc_id")

    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    exact_keep = materialize(
        q_docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    near_removed = (
        minhash_lsh_pairs(exact_keep).select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    near_keep = materialize(
        exact_keep.join(near_removed, "doc_id", "left_anti")
    )

    is_test = F.substring(
        F.md5(F.col("doc_id").cast("string")), 1, 1
    ).isin("0", "1")
    test_sh8 = (
        D.shingle_table(docs.filter(is_test), n=8)
        .select("shingle").distinct()
    )
    cont = (
        D.shingle_table(near_keep, n=8)
        .join(test_sh8, "shingle")
        .select("doc_id").distinct()
    )
    decon = materialize(
        near_keep.filter(~is_test)
        .join(cont, "doc_id", "left_anti")
        .select("doc_id", "lang")
    )
    sampled = temperature_sample(decon, "lang")

    def stage(name, df):
        return df.agg(F.count(F.lit(1)).alias("n_docs")).select(
            F.lit(name).alias("stage"), "n_docs"
        )

    return (
        stage("a_raw", docs)
        .unionByName(stage("b_quality", quality))
        .unionByName(stage("c_exact_dedup", exact_keep))
        .unionByName(stage("d_near_dedup", near_keep))
        .unionByName(stage("e_decontaminated", decon))
        .unionByName(stage("f_sampled", sampled))
    )


# Deterministic PII planting for pii_scrub_stats: the synthetic corpus
# contains no emails/URLs/phone numbers (DuckDB probe: 0 matches for all
# three patterns at every sf), so scrubbing the raw table would be a
# vacuous green. The query plants id-derived PII on deterministic subsets
# in BOTH engines — the redaction machinery, not the corpus, is what the
# hash certifies (same honesty pattern as exact_dup_groups' re-ingest
# slice).
_PII_PLANT_SQL = """
      SELECT doc_id, source,
             text
             || CASE WHEN doc_id % 7 = 0
                  THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                  ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                  THEN ' see https://docs.example.com/d/' || CAST(doc_id AS VARCHAR)
                  ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                  THEN ' call 010-1234-5678' ELSE '' END AS text
      FROM documents"""


def _pii_oracle_sql() -> str:
    from backend_fastapi_spark.operators.text import PII_PATTERNS

    pats = dict(PII_PATTERNS)
    repl = "planted.text"
    # same scrub order as the operator: URL -> EMAIL -> PHONE
    for kind, _ in PII_PATTERNS:
        repl = f"regexp_replace({repl}, '{pats[kind]}', '<{kind.upper()}>', 'g')"
    counts = ",\n             ".join(
        f"len(regexp_extract_all(planted.text, '{pat}')) AS n_{kind}"
        for kind, pat in PII_PATTERNS
    )
    return f"""
    WITH planted AS ({_PII_PLANT_SQL}),
    scrubbed AS (
      SELECT source,
             {counts},
             {repl} AS s
      FROM planted)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_url) AS BIGINT) AS n_url,
           CAST(SUM(n_email) AS BIGINT) AS n_email,
           CAST(SUM(n_phone) AS BIGINT) AS n_phone,
           CAST(SUM(length(s)) AS BIGINT) AS chars_after
    FROM scrubbed GROUP BY source
    """


@register("pii_scrub_stats", oracle=_pii_oracle_sql())
def q_pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus PII redaction pass (operators/text.py::scrub_pii): plant
    deterministic emails/URLs/phones (see _PII_PLANT_SQL), scrub with the
    shared Java/RE2-compatible patterns, and report per-source match
    counts plus the post-scrub char total — the char total certifies the
    REPLACEMENTS (not just the counts) are byte-identical across engines.
    Pure regexp column expressions: codegen'd, no UDF, one groupBy
    shuffle on the 20-value source key."""
    from backend_fastapi_spark.operators.text import scrub_pii

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" contact user"),
                         F.col("doc_id").cast("string"),
                         F.lit("@example.com now")),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(F.lit(" see https://docs.example.com/d/"),
                         F.col("doc_id").cast("string")),
            ).otherwise(""),
            F.when(F.col("doc_id") % 13 == 0, F.lit(" call 010-1234-5678"))
            .otherwise(""),
        ).alias("text"),
    )
    return (
        scrub_pii(docs)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_url").alias("n_url"),
            F.sum("n_email").alias("n_email"),
            F.sum("n_phone").alias("n_phone"),
            F.sum(F.length("scrubbed")).alias("chars_after"),
        )
    )


@register(
    "dup_clusters",
    oracle=f"""
    WITH RECURSIVE {_TOKS_CTE}, {_SHINGLES_CTE},{_CAPPED_INTER_SQL},
    {_jaccard_pairs_sql(0.8)},
    {_CC_REACH_SQL}
    SELECT id AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
    FROM reach GROUP BY id
    """,
)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → dedup GROUPS: connected components (iterative
    min-label propagation, the Pregel CC recipe) over the exact-Jaccard
    near-dup edge list. cluster_id = min doc_id in the component — the
    canonical survivor each member maps to. Oracle: DuckDB recursive CTE
    computing reachability min-labels over the same edges."""
    return D.dup_clusters(_t(spark, sf_dir, "documents"))


@register(
    "dup_clusters_minhash",
    oracle=f"""
    WITH RECURSIVE {_TOKS_CTE}, {_SHINGLES_CTE},{_MINHASH_INTER_SQL},
    {_jaccard_pairs_sql(0.7)},
    {_CC_REACH_SQL}
    SELECT id AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
    FROM reach GROUP BY id
    """,
)
def q_dup_clusters_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-PATH clustering feed, end-to-end and hash-checked:
    MinHash-LSH band candidates → exact-Jaccard verify (≥ 0.7, only over
    candidates — never all-pairs) → connected components. This is the
    pipeline a 100 TB dedup actually runs (the exact-Jaccard feed of
    ``dup_clusters`` is the ≤sf1 oracle form; VERDICT r07 #1), now with
    the same recursive-CTE oracle discipline as its exact twin. Edges
    differ from ``dup_clusters`` only where LSH banding misses a
    true-Jaccard pair (16 hashes / 4-row bands ⇒ recall ~1 - (1-J⁴)⁴:
    ≥ 0.94 at J = 0.7, → 1 as J → 1)."""
    return D.pair_clusters(
        D.minhash_verified_pairs(_t(spark, sf_dir, "documents"))
    )


@register(
    "dedup_canonical_corpus",
    oracle=f"""
    WITH RECURSIVE {_TOKS_CTE}, {_SHINGLES_CTE},{_CAPPED_INTER_SQL},
    {_jaccard_pairs_sql(0.8)},
    {_CC_REACH_SQL},
    removed AS (
      SELECT id FROM (SELECT id, MIN(lbl) AS lbl FROM reach GROUP BY id)
      WHERE id != lbl)
    SELECT doc_id, lang, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT id FROM removed)
    """,
)
def q_dedup_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup END PRODUCT: the cleaned corpus after near-dup removal —
    every doc either untouched by duplication or its cluster's canonical
    (min-id) member. Anti-join of the corpus against the non-canonical
    side of the connected components; at scale the removed set is a tiny
    fraction of the corpus, so the anti-join broadcasts."""
    docs = _t(spark, sf_dir, "documents")
    removed = (
        D.dup_clusters(docs)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    return docs.join(F.broadcast(removed), "doc_id", "left_anti").select(
        "doc_id", "lang", "n_chars"
    )


@register(
    "weighted_sample_docs",
    oracle="""
    SELECT doc_id, lang,
           CAST((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 1000000) AS DOUBLE) / 1000000.0 AS u,
           CAST(least(n_chars, 400) AS DOUBLE) / 400.0 AS w
    FROM documents
    WHERE CAST((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 1000000) AS DOUBLE) / 1000000.0
          < CAST(least(n_chars, 400) AS DOUBLE) / 400.0
    """,
)
def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance (quality-weighted) sampling: keep a doc with probability
    proportional to its weight (here a length proxy, capped), decided by an
    md5-derived uniform — deterministic, partitioning-independent, no RNG
    state. The standard quality-resampling step of a training-data mix."""
    docs = _t(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 1000000
    ).cast("double") / 1000000.0
    w = F.least(F.col("n_chars"), F.lit(400)).cast("double") / 400.0
    return (
        docs.withColumn("u", u)
        .withColumn("w", w)
        .filter(F.col("u") < F.col("w"))
        .select("doc_id", "lang", "u", "w")
    )


@register(
    "training_shard_manifest",
    oracle="""
    SELECT CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 16 AS INT) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(len(string_split(lower(text), ' ')) AS BIGINT))
                AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(octet_length(CAST(text AS BLOB)) AS BIGINT))
                AS BIGINT) AS n_bytes,
           CAST(SUM(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT))
                AS BIGINT) AS content_sum
    FROM documents
    GROUP BY 1
    ORDER BY shard
    """,
)
def q_training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus shard export, manifest side: deterministic md5-mod
    assignment of every document to one of 16 shards plus per-shard doc /
    token / byte totals and an order-independent content checksum — the
    verification artifact for a WebDataset/MDS-style sharded dump (the
    writer itself is ``PL.write_training_shards``, roundtrip-tested in
    tests/test_pipeline.py). The reference has no bulk-export surface
    (it serves docs row-at-a-time, internal_db_service.py); this is the
    pretraining-pipeline addition the brief asks for.

    Plan shape: narrow hash per row, then ONE keyed aggregation with
    map-side partials (16 groups). At 100 TB the shard count rises but
    the plan is unchanged; the checksum is a commutative sum so it is
    partitioning-independent."""
    docs = _t(spark, sf_dir, "documents")
    return PL.shard_manifest(docs, n_shards=16).select(
        "shard", "n_docs", "n_tokens", "n_bytes", "content_sum"
    )


@register(
    "pretrain_mixture_plan",
    oracle="""
    WITH stats AS (
      SELECT lang,
             COUNT(*) AS n_docs,
             CAST(SUM(CAST(len(string_split(lower(text), ' ')) AS BIGINT))
                  AS BIGINT) AS n_tokens
      FROM documents WHERE lang IS NOT NULL
      GROUP BY lang HAVING SUM(len(string_split(lower(text), ' '))) > 0),
    w AS (
      SELECT *, CAST(ROUND(sqrt(CAST(n_tokens AS DOUBLE))*1000000) AS BIGINT)
                AS w_i64
      FROM stats),
    tot AS (SELECT SUM(w_i64) AS w_total FROM w)
    SELECT lang, n_docs, n_tokens,
           CAST(CAST(w_i64 AS HUGEINT) * 1000000 // w_total AS BIGINT)
             AS share_ppm,
           CAST(CAST(2000000 AS HUGEINT) * w_i64 // w_total AS BIGINT)
             AS alloc_tokens,
           LEAST(CAST(CAST(2000000 AS HUGEINT) * w_i64 // w_total AS BIGINT),
                 3 * n_tokens) AS capped_alloc_tokens,
           CAST(CAST(LEAST(
                  CAST(CAST(2000000 AS HUGEINT) * w_i64 // w_total AS BIGINT),
                  3 * n_tokens) AS HUGEINT) * 1000000 // n_tokens AS BIGINT)
             AS epochs_ppm
    FROM w, tot
    ORDER BY lang
    """,
)
def q_pretrain_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture planning (PL.mixture_plan): allocate a
    2M-token pretraining budget across languages by sqrt-temperature
    weights with a 3-epoch cap per domain — the planning step the
    sampling family (temperature_sample, weighted_sample_docs) then
    realizes. All-integer arithmetic on int64 fixed-point sqrt weights
    (HUGEINT/decimal(38,0) products), so the allocation itself — shares,
    token grants, epoch counts — is hash-checked, not just the input
    stats. One corpus aggregation + scalar-total broadcast onto the
    |langs|-row frame."""
    docs = _t(spark, sf_dir, "documents")
    return PL.mixture_plan(docs, token_budget=2_000_000, max_epochs=3)


@register(
    "shard_export_audit",
    oracle="""
    SELECT CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 16 AS INT) AS shard,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT doc_id % 2) AS n_batches,
           CAST(SUM(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT))
                AS BIGINT) AS content_sum
    FROM documents
    GROUP BY 1
    ORDER BY shard
    """,
)
def q_shard_export_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental shard export certified from the persisted files: batch
    0001 appends the even docs, batch 0002 the odd docs, then batch 0002
    is RETRIED with the same token (the crash-retry case — it must
    rewrite only its own ``batch=0002`` subtree, never duplicate). The
    Spark side then reads the export back from disk and manifests it
    per shard (doc count, distinct batches touched, commutative content
    checksum); the oracle computes THE SAME numbers from the source
    table alone (batch membership == doc parity by construction), so a
    hash match proves the export's on-disk layout reproduces the corpus
    exactly once per doc with hash-stable shard membership — the
    exactly-once discipline of the postings/IVF delta segments applied
    to the bulk-export surface."""
    import os

    from backend_fastapi_spark.operators.pipeline import (
        append_training_shards,
        read_training_shards,
    )

    base = os.path.join(
        _INDEX_ROOT,
        os.path.basename(sf_dir.rstrip("/")) or "sf",
        "shard_export",
    )
    # hermetic: a stale export from an older corpus generation (or an
    # abandoned token scheme) would otherwise leak batch=* dirs into the
    # read-back glob
    import shutil as _shutil

    _shutil.rmtree(base, ignore_errors=True)
    docs = _t(spark, sf_dir, "documents")
    append_training_shards(docs.filter(F.col("doc_id") % 2 == 0), base, "0001")
    append_training_shards(docs.filter(F.col("doc_id") % 2 == 1), base, "0002")
    # crash-retry of the second trigger: same token, same rows
    append_training_shards(docs.filter(F.col("doc_id") % 2 == 1), base, "0002")
    back = read_training_shards(spark, base)
    h32 = F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10).cast("long")
    return (
        back.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("batch").alias("n_batches"),
            F.sum(h32).alias("content_sum"),
        )
        .orderBy("shard")
        .select("shard", "n_docs", "n_batches", "content_sum")
    )


@register(
    "multimodal_feature_stats",
    oracle="""
    WITH media AS (
      SELECT doc_id AS media_id,
             ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
             text FROM documents),
    feat AS (
      SELECT media_id, kind,
             CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
             md5(text) AS checksum,
             CAST(16 + CAST(('0x' || substr(md5(text), 1, 2)) AS BIGINT) % 64
                  AS INT) AS width,
             CAST(16 + CAST(('0x' || substr(md5(text), 3, 2)) AS BIGINT) % 64
                  AS INT) AS height,
             CASE WHEN kind = 'image' THEN 0
                  ELSE CAST(('0x' || substr(md5(text), 5, 4)) AS BIGINT) % 10000
             END AS duration_ms
      FROM media)
    SELECT * FROM feat
    """,
)
def q_multimodal_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, driver-verified end to end: documents become
    opaque BINARY payloads with a kind column; features extract via the
    REAL mapInPandas Arrow path (operators/multimodal.py) whose stub
    decoder derives (width, height, duration) from the payload md5 —
    so the whole Python boundary hash-matches a pure-SQL oracle. Swapping
    the stub for PIL/ffmpeg changes only _decode_payload."""
    from backend_fastapi_spark.operators.multimodal import extract_features

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.create_map(F.lit("src"), F.col("source")).alias("meta"),
    )
    return extract_features(media)


@register(
    "events_burst_60s",
    oracle="""
    WITH pairs AS (
      SELECT a.event_id AS id_a
      FROM events a JOIN events b
      ON epoch_us(b.ts) > epoch_us(a.ts)
         AND epoch_us(b.ts) <= epoch_us(a.ts) + 60000000),
    per_event AS (
      SELECT id_a, COUNT(*) AS n_following FROM pairs GROUP BY 1)
    SELECT e.event_id, CAST(COALESCE(p.n_following, 0) AS BIGINT) AS n_following
    FROM events e LEFT JOIN per_event p ON e.event_id = p.id_a
    WHERE COALESCE(p.n_following, 0) > 0
    """,
)
def q_events_burst_60s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless interval join via time-bin banding (operators/rangejoin.py):
    for each event, how many events (any user) land in the following 60 s.
    The naive Spark form of this inequality join is a nested-loop /
    cartesian O(n²) plan; the banded form is one equi-join on gap-width
    time bins with ≤2× left fan-out — linear in input + output. Oracle is
    DuckDB's native inequality join over the same window."""
    from backend_fastapi_spark.operators.rangejoin import banded_interval_join

    ev = _t(spark, sf_dir, "events")
    left = ev.select(F.col("event_id"), F.col("ts"))
    right = ev.select(F.col("ts").alias("ts_b"))
    pairs = banded_interval_join(left, right, "ts", "ts_b", gap_us=60_000_000)
    return pairs.groupBy("event_id").agg(F.count(F.lit(1)).alias("n_following"))
@register(
    "shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {SQL_DSUM('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           o_orderpriority
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderdate < DATE '1998-01-01' AND l_shipdate > DATE '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
    """,
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): top unshipped orders by
    revenue. Both date predicates push into the parquet scans; the join
    shuffles only the filtered remainders; revenue is the
    decimal-accumulated double product (deterministic)."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("date")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("date")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_r")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(rev.cast("decimal(30,4)")).cast("double").alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "returned_items_by_customer",
    oracle=f"""
    SELECT c_custkey, c_name, c_mktsegment,
           {SQL_DSUM('l_extendedprice * (1 - l_discount)', 4)} AS lost_revenue,
           COUNT(*) AS n_lines
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_mktsegment
    ORDER BY lost_revenue DESC, c_custkey ASC LIMIT 20
    """,
)
def q_returned_items_by_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned items): customers ranked by revenue on
    returned lines. The returnflag filter pushes into the lineitem scan;
    customer (small) broadcasts; one shuffle on custkey for the final
    aggregate."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            F.sum(rev.cast("decimal(30,4)")).cast("double").alias("lost_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "shipmode_priority_counts",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_shipmode_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional counts of high/low-priority orders per
    return flag for one ship year — CASE aggregation over a pushed-down
    date-range scan."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "promo_revenue_share",
    oracle=f"""
    SELECT
      CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                    THEN l_extendedprice * (1 - l_discount) ELSE 0 END
               AS DECIMAL(30,4))) AS DOUBLE)
        / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
               AS DECIMAL(30,4))) AS DOUBLE) AS promo_share,
      COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= DATE '1997-06-01' AND l_shipdate < DATE '1997-07-01'
    """,
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share for one ship month. The part
    dimension broadcasts; both decimal-accumulated sums ride one scan;
    the final division is a deterministic double op on exact ints."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("date"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.sum(promo_rev.cast("decimal(30,4)")).cast("double")
                / F.sum(rev.cast("decimal(30,4)")).cast("double")
            ).alias("promo_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "forecast_revenue_change",
    oracle=f"""
    SELECT {SQL_DSUM('l_extendedprice * l_discount', 4)} AS potential_revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue increase from eliminating small discounts —
    a pure filter + scalar aggregate whose every predicate pushes into the
    parquet scan (no join, no shuffle beyond the 1-row final agg)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = F.col("l_extendedprice") * F.col("l_discount")
    return li.agg(
        F.sum(rev.cast("decimal(30,4)")).cast("double").alias("potential_revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "large_volume_customers",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem GROUP BY 1
      HAVING SUM(CAST(l_quantity AS BIGINT)) > 270)
    SELECT c_custkey, c_name, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           o_totalprice
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN big ON o_orderkey = l_orderkey
    """,
)
def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total
    quantity exceeds a threshold — a HAVING-filtered aggregate driving a
    star join. The aggregate output (few keys) broadcasts into the
    orders join; customer broadcasts too."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    # quantities are integral-valued in this schema: int64 sums are exact
    # (and far cheaper than decimal accumulation) in both engines
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("_q"))
        .filter(F.col("_q") > 270)
        .select("l_orderkey")
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
        )
    )


@register(
    "funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t1
      FROM events WHERE event_type = 'view' GROUP BY 1),
    c AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
      GROUP BY e.user_id)
    SELECT stage, n_users FROM (
      SELECT 'view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
      UNION ALL
      SELECT 'view_click', CAST(COUNT(*) AS BIGINT) FROM c
      UNION ALL
      SELECT 'view_click_purchase', CAST(COUNT(*) AS BIGINT) FROM p)
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase): users counted at
    each stage only when the stage event strictly FOLLOWS their first
    qualifying previous-stage event. Three keyed aggregates + two
    user-key equi-joins — every step shuffles on user_id only.
    Comparisons run on unix_micros in BOTH engines so nanosecond source
    timestamps cannot order differently across them."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit("view").alias("stage"), "n_users"
        )
        .unionByName(
            c.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit("view_click").alias("stage"), "n_users"
            )
        )
        .unionByName(
            p.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit("view_click_purchase").alias("stage"), "n_users"
            )
        )
    )


@register(
    "cohort_retention",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id,
             CAST(epoch_us(ts) // 86400000000 // 7 AS BIGINT) AS week
      FROM events),
    cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM act GROUP BY 1)
    SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM act a JOIN cohort c ON c.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-activity week,
    counted per week offset they return. Week index is pure integer
    epoch math (identical across engines); shape is two keyed aggregates
    + one user-key join — no window, no skew risk beyond a hot cohort."""
    ev = _t(spark, sf_dir, "events")
    # integer division end to end — identical floor semantics to the
    # oracle's // on positive epochs
    week = F.expr("unix_micros(ts) div 86400000000 div 7")
    act = ev.select("user_id", week.alias("week")).distinct()
    cohort = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        act.join(cohort, "user_id")
        .groupBy(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "customer_order_distribution",
    oracle="""
    WITH counts AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      GROUP BY c_custkey)
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM counts GROUP BY c_count
    """,
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of orders per customer INCLUDING
    zero-order customers — left outer join (COUNT of the nullable side
    skips nulls) then a histogram over the counts."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    counts = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return counts.groupBy("c_count").agg(F.count(F.lit(1)).alias("n_customers"))


@register(
    "small_quantity_revenue",
    oracle=f"""
    WITH avg_qty AS (
      SELECT l_partkey, {SQL_DAVG('l_quantity')} AS aq
      FROM lineitem GROUP BY 1)
    SELECT {SQL_DSUM('l_extendedprice', 2)} AS total_price,
           COUNT(*) AS n_lines
    FROM lineitem JOIN avg_qty USING (l_partkey)
    WHERE l_quantity < 0.5 * aq
    """,
)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: lines ordering less than half their part's average
    quantity — the correlated per-group scalar subquery decorrelated into
    an aggregate + equi-join (the plan Catalyst produces for the SQL form
    too). The per-part aggregate is small and broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy("l_partkey").agg(davg("l_quantity").alias("aq"))
    return (
        li.join(F.broadcast(avg_qty), "l_partkey")
        .filter(F.col("l_quantity") < 0.5 * F.col("aq"))
        .agg(
            dsum("l_extendedprice").alias("total_price"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "idle_rich_customers",
    oracle=f"""
    WITH avg_bal AS (
      SELECT {SQL_DAVG('c_acctbal')} AS ab FROM customer WHERE c_acctbal > 0)
    SELECT c_custkey, c_mktsegment, c_acctbal
    FROM customer, avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderstatus = 'O')
    """,
)
def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no open
    orders — a 1-row scalar aggregate cross-joined as the filter bound
    plus an anti-join on the open-order set."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        davg("c_acctbal").alias("ab")
    )
    open_orders = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(
            open_orders, cust.c_custkey == open_orders.o_custkey, "left_anti"
        )
        .select("c_custkey", "c_mktsegment", "c_acctbal")
    )


@register(
    "top_supplier_revenue",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey, {SQL_DSUM('l_extendedprice * (1 - l_discount)', 4)}
               AS total_rev
      FROM lineitem
      WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-04-01'
      GROUP BY 1),
    best AS (SELECT MAX(total_rev) AS m FROM rev)
    SELECT s_suppkey, s_name, s_nationkey, total_rev
    FROM supplier JOIN rev ON l_suppkey = s_suppkey, best
    WHERE total_rev = m
    """,
)
def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the maximum-revenue supplier(s) for one quarter —
    per-supplier revenue aggregate, a 1-row global max cross-joined back
    as the filter bound (no global window), supplier dimension broadcast."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("date"))
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(30,4)"
                )
            )
            .cast("double")
            .alias("total_rev")
        )
    )
    best = rev.agg(F.max("total_rev").alias("m"))
    return (
        rev.crossJoin(F.broadcast(best))
        .filter(F.col("total_rev") == F.col("m"))
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "s_nationkey", "total_rev")
    )


@register(
    "late_shipment_priority",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per-priority counts of orders with at least one
    line shipped after the order date — an EXISTS correlated subquery
    expressed as a left-semi join with the correlation as an extra join
    predicate."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    qualified = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return qualified.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@register(
    "branded_quantity_revenue",
    oracle=f"""
    SELECT {SQL_DSUM('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 5 AND 30)
    """,
)
def q_branded_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue over a DISJUNCTION of brand/size/quantity
    conjunctions — the OR-of-ANDs predicate that exercises disjunctive
    filter pushdown on both join sides before the broadcast join."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(5, 30)
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.filter(cond).agg(
        F.sum(rev.cast("decimal(30,4)")).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "dup_rate_by_source",
    oracle=f"""
    WITH {_TOKS_CTE}, {_SHINGLES_CTE},{_CAPPED_INTER_SQL},
    {_jaccard_pairs_sql(0.8)},
    members AS (
      SELECT DISTINCT id FROM (
        SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs))
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN m.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs
    FROM documents d LEFT JOIN members m ON m.id = d.doc_id
    GROUP BY source
    """,
)
def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health rollup: per source, how many docs participate in any
    near-dup pair — the metric that tells you WHICH upstream feed is
    polluting the corpus. Dup membership set broadcasts into a left join
    over the corpus (it is a vanishing fraction at scale)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, 0.8, max_shingle_df=64)
    members = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    return (
        docs.join(F.broadcast(members), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).cast("long").alias("n_dup_docs"),
        )
    )


@register(
    "orders_growth_mom",
    oracle=f"""
    WITH monthly AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             {SQL_DSUM('o_totalprice')} AS revenue
      FROM orders GROUP BY 1)
    SELECT month, revenue,
           revenue - lag(revenue) OVER (ORDER BY month) AS delta
    FROM monthly
    """,
)
def q_orders_growth_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue delta: a lag window over the MONTHLY
    aggregate — the global window runs over #months rows (bounded by the
    calendar, not the data), which is exactly the aggregate-first shape
    the plan-audit gate permits."""
    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(dsum("o_totalprice").alias("revenue"))
    w = Window.orderBy("month")
    return monthly.select(
        "month",
        "revenue",
        (F.col("revenue") - F.lag("revenue").over(w)).alias("delta"),
    )


@register(
    "top_parts_by_region",
    oracle=f"""
    WITH joined AS (
      SELECT r_name AS region, p_brand,
             {SQL_DSUM('l_extendedprice * (1 - l_discount)', 4)} AS revenue
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey
      JOIN region ON r_regionkey = n_regionkey
      JOIN part ON p_partkey = l_partkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY region
                                   ORDER BY revenue DESC, p_brand ASC) AS rn
      FROM joined)
    SELECT region, p_brand, revenue, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 5
    """,
)
def q_top_parts_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region top-5 part brands by revenue: the full five-table star
    chain (all dimensions broadcast), aggregated BEFORE the ranking
    window — the window sees #regions × #brands rows, never line items."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("r_name").alias("region"), "p_brand")
        .agg(F.sum(rev.cast("decimal(30,4)")).cast("double").alias("revenue"))
    )
    w = Window.partitionBy("region").orderBy(
        F.col("revenue").desc(), F.col("p_brand").asc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
    )


@register(
    "lang_id_confusion",
    oracle=f"""
    WITH {_TOKS_CTE},
    pred AS (
      SELECT doc_id,
             CASE WHEN CAST(len(list_filter(w, x -> list_contains({_STOP_SQL}, x)))
                       AS DOUBLE) / CAST(greatest(len(w), 1) AS DOUBLE) >= 0.05
                  THEN 'en' ELSE 'unknown' END AS lang_pred
      FROM toks)
    SELECT d.lang, p.lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents d JOIN pred p ON p.doc_id = d.doc_id
    GROUP BY 1, 2
    """,
)
def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: confusion counts of the declared ``lang``
    label against the stopword-ratio heuristic — the quality-eval query a
    pipeline runs before trusting a classifier at corpus scale. One
    narrow predict pass + a grouped count."""
    docs = _t(spark, sf_dir, "documents")
    w = TX.words(F.col("text"))
    pred = F.when(TX.stopword_ratio(w) >= 0.05, F.lit("en")).otherwise(
        F.lit("unknown")
    )
    return (
        docs.withColumn("lang_pred", pred)
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "next_order_asof_forward",
    oracle="""
    WITH nd AS (
      SELECT a.o_orderkey AS k, MIN(b.o_orderdate) AS next_date
      FROM orders a JOIN orders b
        ON b.o_custkey = a.o_custkey AND b.o_orderdate > a.o_orderdate
      GROUP BY 1),
    pick AS (
      SELECT a.o_orderkey AS k, nd.next_date, MAX(b.o_orderkey) AS next_orderkey
      FROM orders a JOIN nd ON nd.k = a.o_orderkey
      JOIN orders b ON b.o_custkey = a.o_custkey AND b.o_orderdate = nd.next_date
      GROUP BY 1, 2)
    SELECT a.o_orderkey, a.o_custkey,
           strftime(a.o_orderdate, '%Y-%m-%d') AS order_date,
           strftime(p.next_date, '%Y-%m-%d') AS asof_next_date,
           p.next_orderkey AS asof_next_orderkey
    FROM orders a JOIN pick p ON p.k = a.o_orderkey
    """,
)
def q_next_order_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (the successor lookup): for every order, the
    customer's next order on a strictly later date — same union-and-carry
    operator as the backward as-of, scanned in reverse time order; ONE
    keyed-window shuffle, no inequality-join explosion. Tie rule: highest
    orderkey among the next date's orders (mirrors the backward form).
    The oracle is the quadratic-per-key inequality join DuckDB can afford
    at sf0.01."""
    from backend_fastapi_spark.operators.asof import asof_join

    orders = _t(spark, sf_dir, "orders")
    left = orders.select("o_orderkey", "o_custkey", "o_orderdate")
    right = orders.select(
        F.col("o_custkey"),
        F.col("o_orderdate"),
        F.col("o_orderkey").alias("next_orderkey"),
    )
    joined = asof_join(
        left,
        right,
        key="o_custkey",
        left_time="o_orderdate",
        right_time="o_orderdate",
        payload_cols=["next_orderkey"],
        tie_col="next_orderkey",
        direction="forward",
        strict=True,
    )
    return joined.select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.date_format("asof_o_orderdate", "yyyy-MM-dd").alias("asof_next_date"),
        F.col("asof_next_orderkey"),
    )


@register(
    "pack_pretrain_sequences",
    oracle="""
    WITH sized AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS BIGINT)
               % 32 AS bucket
      FROM documents),
    packed AS (
      SELECT doc_id, bucket, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM sized)
    SELECT doc_id, bucket, n_tokens,
           CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_id,
           CAST((cum - n_tokens) % 2048 AS BIGINT) AS seq_offset
    FROM packed
    """,
)
def q_pack_pretrain_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining (concat-and-chop): docs are
    hash-bucketed (md5 — deterministic, partition-independent), then each
    bucket's token stream is packed contiguously into 2048-token
    sequences; every doc gets (seq_id, seq_offset) = where its tokens
    start. One keyed-window shuffle; buckets ≫ cores at corpus scale so
    no funnel. The physical concat is then a per-(bucket, seq_id)
    assembly — already colocated by this assignment."""
    docs = _t(spark, sf_dir, "documents")
    n_tokens = F.size(TX.words(F.col("text"))).cast("long")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("long")
        % 32
    )
    sized = docs.select(
        "doc_id", n_tokens.alias("n_tokens"), bucket.alias("bucket")
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return sized.select(
        "doc_id",
        "bucket",
        "n_tokens",
        F.floor(start / 2048).cast("long").alias("seq_id"),
        (start % 2048).cast("long").alias("seq_offset"),
    )


@register(
    "user_rapid_repeat_events",
    oracle="""
    SELECT a.user_id, COUNT(*) AS n_rapid_pairs
    FROM events a JOIN events b
    ON b.user_id = a.user_id
       AND epoch_us(b.ts) > epoch_us(a.ts)
       AND epoch_us(b.ts) <= epoch_us(a.ts) + 1800000000
    GROUP BY a.user_id
    """,
)
def q_user_rapid_repeat_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYED banded interval join: per user, pairs of events within 30
    minutes of each other. The (user_id, time-bin) equi-key sharpens the
    shuffle so buckets hold one user's events in one 30-min band — the
    composable form of the keyless events_burst_60s."""
    from backend_fastapi_spark.operators.rangejoin import banded_interval_join

    ev = _t(spark, sf_dir, "events")
    left = ev.select("user_id", F.col("ts"))
    right = ev.select("user_id", F.col("ts").alias("ts_b"))
    pairs = banded_interval_join(
        left, right, "ts", "ts_b", gap_us=1_800_000_000, keys=["user_id"]
    )
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rapid_pairs"))


@register("approx_sketch_stats", oracle=None)  # sketches are engine-specific
def q_approx_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregations — the 100 TB answer to distinct counts and
    quantiles: HyperLogLog++ (approx_count_distinct) and the
    Greenwald-Khanna quantile sketch (approx_percentile), both mergeable
    partial aggregates (one shuffle of constant-size sketches, never a
    global sort or exact distinct shuffle). Rows-only: sketch estimates
    are engine-specific by construction; tests/test_pipeline.py bounds the
    estimates against exact values (±5%)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.expr("approx_percentile(value, 0.5)").alias("value_p50"),
        F.expr("approx_percentile(value, 0.99)").alias("value_p99"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register("ann_ivf_top10", oracle=None)  # approximate by construction
def q_ann_ivf_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2/V3 second scale path: IVF (seeded KMeans coarse quantizer +
    nprobe bucket-pruned exact scoring) top-10 for one query vector; recall
    vs exact kNN asserted in tests/test_vector.py."""
    from backend_fastapi_spark.operators.ivf import build_ivf, ivf_search

    emb = _t(spark, sf_dir, "embeddings")
    assigned, centroids = build_ivf(emb, k_clusters=16)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    return ivf_search(assigned, centroids, q, k=10, nprobe=4)


def _ivf_det_oracle_sql(
    n_queries: int = 3, k: int = 10, k_clusters: int = 16, nprobe: int = 2
) -> str:
    """DuckDB twin of ivf_deterministic_topk: md5-ranked medoid centroids,
    int64 fixed-point distances, total tie-break orders — bit-identical to
    the Spark plan at every step. Generated so the constants (and
    FIXED_SCALE) can never desynchronize from the operator."""
    from backend_fastapi_spark.operators.vector import FIXED_SCALE

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
    probe AS (
      SELECT q_id, cluster FROM (
        SELECT vec_id AS q_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
        FROM dist WHERE vec_id < {n_queries}) WHERE rn <= {nprobe}),
    scored AS (
      SELECT p.q_id, a.vec_id, a.cluster,
             CAST(list_sum(list_transform(list_zip(qq.qv, vv.qv),
               x -> x[1]*x[2])) AS BIGINT) AS score_i64
      FROM assign a
      JOIN probe p USING (cluster)
      JOIN q qq ON qq.vec_id = p.q_id
      JOIN q vv ON vv.vec_id = a.vec_id
      WHERE a.vec_id <> p.q_id)
    SELECT q_id, vec_id, cluster, score_i64 FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY score_i64 DESC, vec_id) AS rn
      FROM scored) WHERE rn <= {k}
    """


@register("ann_ivf_deterministic", oracle=_ivf_det_oracle_sql())
def q_ann_ivf_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2/V3: IVF search with a DETERMINISTIC coarse quantizer — the
    RP-LSH trick (embedding_near_dup_rp) applied to the IVF probe path
    (VERDICT r05 directive #4). Medoid centroids selected by md5(vec_id)
    rank, every distance in int64 fixed-point, so the coarse assignment,
    the nprobe probe, and the pruned re-rank are all hash-checked by the
    driver end to end. ann_ivf_top10 stays the MLlib-KMeans production
    path (rows-only by JVM-RNG nature); this twin certifies the same plan
    shape: argmin-assign -> probe -> re-rank only probed lists."""
    from backend_fastapi_spark.operators.ivf import ivf_deterministic_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_deterministic_topk(
        emb, _query_vectors(spark, sf_dir, 3), k=10, k_clusters=16, nprobe=2
    )


def _ivf_adaptive_oracle_sql(
    n_queries: int = 3,
    k: int = 10,
    k_clusters: int = 16,
    nprobe_max: int = 8,
    alpha_num: int = 3,
    alpha_den: int = 2,
) -> str:
    """DuckDB twin of ivf_adaptive_topk: the _ivf_det_oracle_sql CTE
    chain with the probe CTE swapped for the ratio test — probe every
    cluster within alpha (= alpha_num/alpha_den) of the per-query
    minimum centroid distance, capped at the nprobe_max closest. The
    comparison is the IDENTICAL integer inequality the Spark side
    evaluates (d·alpha_den <= d_min·alpha_num), so the per-query probe
    DECISION — not just the re-rank — is hash-checked."""
    from backend_fastapi_spark.operators.vector import FIXED_SCALE

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
    probe AS (
      SELECT q_id, cluster FROM (
        SELECT vec_id AS q_id, cluster, d,
               MIN(d) OVER (PARTITION BY vec_id) AS dmin,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
        FROM dist WHERE vec_id < {n_queries})
      WHERE rn <= {nprobe_max}
        AND d * {alpha_den} <= dmin * {alpha_num}),
    scored AS (
      SELECT p.q_id, a.vec_id, a.cluster,
             CAST(list_sum(list_transform(list_zip(qq.qv, vv.qv),
               x -> x[1]*x[2])) AS BIGINT) AS score_i64
      FROM assign a
      JOIN probe p USING (cluster)
      JOIN q qq ON qq.vec_id = p.q_id
      JOIN q vv ON vv.vec_id = a.vec_id
      WHERE a.vec_id <> p.q_id)
    SELECT q_id, vec_id, cluster, score_i64 FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY score_i64 DESC, vec_id) AS rn
      FROM scored) WHERE rn <= {k}
    """


@register("ann_ivf_adaptive", oracle=_ivf_adaptive_oracle_sql())
def q_ann_ivf_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2/V3: IVF search with an ADAPTIVE probe set — instead of the
    fixed-nprobe global knob (every query pays the worst case), probe
    the clusters whose centroid distance is within alpha = 3/2 of the
    per-query nearest, capped at 8: probed lists (and therefore probed
    bytes) track query difficulty. Decisive queries touch 1 list;
    centroid-tied queries widen toward the cap. The ratio test is an
    all-integer inequality on the same int64 fixed-point distances as
    ann_ivf_deterministic, so the driver hash-checks the probe DECISION
    itself, not just the re-rank — the adaptive counterpart completing
    the fixed-probe/SQ8/PQ IVF family (operators/ivf.py:
    _medoid_probe_adaptive)."""
    from backend_fastapi_spark.operators.ivf import ivf_adaptive_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_adaptive_topk(
        emb,
        _query_vectors(spark, sf_dir, 3),
        k=10,
        k_clusters=16,
        nprobe_max=8,
        alpha_num=3,
        alpha_den=2,
    )


def _ivf_sq8_oracle_sql(
    n_queries: int = 3, k: int = 10, k_clusters: int = 16, nprobe: int = 2,
    rerank: int = 4,
) -> str:
    """DuckDB twin of ivf_sq8_topk: the _ivf_det_oracle_sql CTE chain
    (medoid quantizer, int64 assign/probe) composed with the SQ8 CTEs
    (per-vector |max| scale, int8 codes, exact-int64 approximate dot) —
    shortlist by (approx, id), exact fixed-point re-rank, top-k."""
    from backend_fastapi_spark.operators.vector import FIXED_SCALE

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
    probe AS (
      SELECT q_id, cluster FROM (
        SELECT vec_id AS q_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
        FROM dist WHERE vec_id < {n_queries}) WHERE rn <= {nprobe}),
    codes AS (
      SELECT vec_id,
             list_max(list_transform(qv, x -> abs(x))) AS s,
             list_transform(qv, x ->
               CASE WHEN list_max(list_transform(qv, y -> abs(y))) = 0 THEN 0
                    ELSE CAST(ROUND(x * 127.0 /
                      list_max(list_transform(qv, y -> abs(y)))) AS BIGINT)
               END) AS code
      FROM q),
    approx AS (
      SELECT p.q_id, a.vec_id, a.cluster,
             CAST(list_sum(list_transform(list_zip(cc.code, qc.code),
               x -> x[1]*x[2])) AS BIGINT) * cc.s * qc.s AS approx_i64
      FROM assign a
      JOIN probe p USING (cluster)
      JOIN codes cc ON cc.vec_id = a.vec_id
      JOIN codes qc ON qc.vec_id = p.q_id
      WHERE a.vec_id <> p.q_id),
    short AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                  ORDER BY approx_i64 DESC, vec_id) AS rn
        FROM approx) WHERE rn <= {rerank * k}),
    rer AS (
      SELECT s.q_id, s.vec_id, s.cluster, s.approx_i64,
             CAST(list_sum(list_transform(list_zip(vv.qv, qq.qv),
               x -> x[1]*x[2])) AS BIGINT) AS score_i64
      FROM short s
      JOIN q vv ON vv.vec_id = s.vec_id
      JOIN q qq ON qq.vec_id = s.q_id)
    SELECT q_id, vec_id, cluster, approx_i64, score_i64 FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY score_i64 DESC, vec_id) AS rn
      FROM rer) WHERE rn <= {k}
    """


@register("ann_ivf_sq8_top10", oracle=_ivf_sq8_oracle_sql())
def q_ann_ivf_sq8_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2/V3 composed: IVF pruning × SQ8 compression in one search
    (operators/ivf.py::ivf_sq8_topk — FAISS IndexIVFScalarQuantizer's
    role, the standard billion-scale FAISS factory string "IVFx,SQ8").
    The coarse quantizer prunes the scan to nprobe/k_clusters of the
    corpus, the candidate pass inside probed lists reads ~72 B/vector
    int8 codes (another ~4x on the probed partitions' IO), and only
    rerank·k survivors per query pay full-precision scoring. Medoid
    quantizer + integer arithmetic end to end, so the ENTIRE composed
    index is hash-checked — assignment, probe, compressed shortlist
    (approx_i64 in the output), and exact re-rank (score_i64)."""
    from backend_fastapi_spark.operators.ivf import ivf_sq8_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_sq8_topk(
        emb, _query_vectors(spark, sf_dir, 3), k=10, k_clusters=16,
        nprobe=2, rerank=4,
    )


@register("ann_ivf_trained_top10", oracle=None)  # MLlib KMeans centroids: JVM float math, rows-only like ann_pq_trained_top10
def q_ann_ivf_trained_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe search with KMEANS-TRAINED coarse centroids — the
    production-recall twin of ann_ivf_deterministic, completing for IVF
    the trained/deterministic pairing the PQ family gained in round 7
    (ann_pq_trained_top10). MLlib KMeans centroids are rounded to the
    same int64 fixed-point, so the identical assign/probe/re-rank plan
    runs unchanged over the learned table. Seeded but JVM-float-derived,
    so rows-only by nature; recall@10 ≥ the medoid variant is asserted
    in tests/test_pq.py."""
    from backend_fastapi_spark.operators.ivf import (
        ivf_deterministic_topk,
        trained_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_deterministic_topk(
        emb, _query_vectors(spark, sf_dir, 3), k=10, k_clusters=16, nprobe=2,
        med=trained_centroids(emb, 16),
    )


@register(
    "ann_pq_adc_top10", oracle=PQ.pq_oracle_sql(n_queries=3, k=10, rerank=50)
)
def q_ann_pq_adc_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2/V3 third index family: product quantization with ADC search and
    exact re-rank (operators/pq.py) — the memory-compression path a
    100 TB corpus needs (8 × 4-bit codes = 4 B/vector, 128× smaller than
    the raw doubles; reference store is a flat index, PQ is the standard
    FAISS step beyond it). md5-medoid codebooks + int64 arithmetic make
    codebooks, codes, ADC sums, and both rankings hash-checkable — the
    deterministic-oracle pattern's third application after RP-LSH and
    IVF. Encode is a zero-shuffle Arrow matmul scan; ADC scoring is a
    numpy table-gather per batch; the only search shuffle is the final
    per-query top-k window. Recall vs exact kNN bounded in
    tests/test_pq.py."""
    from backend_fastapi_spark.operators.pq import pq_adc_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_adc_topk(emb, _query_vectors(spark, sf_dir, 3), k=10, rerank=50)


@register("ann_pq_trained_top10", oracle=None)  # MLlib KMeans centroids: JVM float math, rows-only like ann_lsh_top10
def q_ann_pq_trained_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC search with KMEANS-TRAINED codebooks (VERDICT r06 #6) —
    the production-recall twin of ann_pq_adc_top10. Per-subspace MLlib
    KMeans (Jégou's PQ training recipe) replaces the md5-medoid
    codebook; centroids are rounded to the same int64 fixed-point so the
    identical encode/ADC/re-rank plan runs unchanged. Seeded but
    JVM-float-derived, so rows-only by nature; recall@10 ≥ the
    deterministic variant is asserted in tests/test_pq.py."""
    from backend_fastapi_spark.operators.pq import (
        pq_adc_topk,
        pq_codebooks_trained,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        emb, _query_vectors(spark, sf_dir, 3), k=10, rerank=50,
        cb=pq_codebooks_trained(emb),
    )


@register(
    "ann_ivfpq_top10",
    oracle=PQ.ivfpq_oracle_sql(
        n_queries=3, k=10, rerank=50, k_clusters=16, nprobe=4
    ),
)
def q_ann_ivfpq_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2/V3 composed production-ANN shape (FAISS IVF16,PQ8): coarse
    quantizer prunes to nprobe/k_clusters of the corpus, ADC scores only
    those candidates from their 4-byte PQ codes, exact int64-dot re-rank
    on the ADC top-50. Coarse assign + PQ encode + probe mask + ADC
    gather are FUSED in one mapInPandas over one corpus scan — nothing
    shuffles until the bounded candidate window. Deterministic
    throughout (md5 medoids, int64 fixed-point), so the entire composed
    index — assignment, probing, codes, ADC sums, both rankings — is
    driver hash-checked. Recall vs exact kNN and prune accounting in
    tests/test_pq.py."""
    from backend_fastapi_spark.operators.pq import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb, _query_vectors(spark, sf_dir, 3), k=10, rerank=50,
        k_clusters=16, nprobe=4,
    )


def _hll_det_oracle_sql() -> str:
    return (
        SK.hll_oracle_sql("orders", "o_orderkey", "orders.o_orderkey")
        + " UNION ALL "
        + SK.hll_oracle_sql("lineitem", "l_orderkey", "lineitem.l_orderkey")
        + " ORDER BY src"
    )


@register("hll_distinct_deterministic", oracle=_hll_det_oracle_sql())
def q_hll_distinct_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-count sketch (m=256 registers,
    md5 hashing, pure int64 register/estimate arithmetic) over two
    distinct-count shapes: orders.o_orderkey (all-unique) and
    lineitem.l_orderkey (~4x fan-in dedup). The hash-checkable twin of
    approx_sketch_stats's approx_count_distinct (which stays the
    engine-native production path): registers, zero-count, and estimate
    are all driver hash-verified — the first oracle-green sketch.
    Accuracy vs exact is bounded in tests/test_sketches.py."""
    from backend_fastapi_spark.operators.sketches import hll_sketch

    o = hll_sketch(_t(spark, sf_dir, "orders"), "o_orderkey", "orders.o_orderkey")
    li = hll_sketch(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "lineitem.l_orderkey"
    )
    return o.unionByName(li).orderBy("src")


@register(
    "hll_monthly_merge",
    oracle=SK.hll_by_oracle_sql(
        "orders", "o_custkey", "strftime(o_orderdate, '%Y-%m')"
    ),
)
def q_hll_monthly_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL mergeability as a driver-checked row — the property that
    makes sketches THE 100 TB answer for rolling distinct counts: one
    sketch per month of orders (distinct o_custkey), then the
    all-months estimate computed by MERGING the per-month register
    tables (groupBy(bucket).max) — the raw keys are never re-scanned.
    Max-merge is associative, so the merged row is bit-identical to
    sketching the union directly (property-tested in
    tests/test_sketches.py); here every per-month sketch AND the merge
    are hash-verified against the DuckDB twin."""
    from backend_fastapi_spark.operators.sketches import hll_sketch_by

    return hll_sketch_by(
        _t(spark, sf_dir, "orders"),
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM"),
    )


_BKM_SUB = """(
      SELECT o_orderkey, o_totalprice FROM (
        SELECT o_orderkey, o_totalprice,
               row_number() OVER (
                 PARTITION BY strftime(o_orderdate, '%Y-%m')
                 ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey,
                          CAST(o_totalprice AS DOUBLE)) AS prn
        FROM orders)
      WHERE prn <= 64)"""


@register(
    "bottomk_monthly_merge",
    oracle=SK.bottomk_oracle_sql(_BKM_SUB, "o_orderkey", "o_totalprice"),
)
def q_bottomk_monthly_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k quantiles via the DISTRIBUTED-MERGE route (the quantile
    twin of hll_monthly_merge): each month of orders reduces to its
    bottom-64 md5-rank sample, and the global quantiles come from the
    bottom-1024 of the UNION of those partial samples — raw rows are
    never re-scanned past the first per-month pass. Equals the direct
    global sample whenever no month contributes more than 64 of the
    global winners (asserted on this data in tests/test_sketches.py —
    md5 ranks are independent of the month, so per-month contributions
    concentrate near 1024/80); both engines run the identical two-stage
    computation, so the result is hash-exact either way."""
    from backend_fastapi_spark.operators.sketches import bottomk_quantiles

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy(
        F.date_format("o_orderdate", "yyyy-MM")
    ).orderBy(
        F.md5(F.col("o_orderkey").cast("string")),
        F.col("o_orderkey"),
        F.col("o_totalprice").cast("double"),
    )
    per_month = (
        orders.withColumn("_prn", F.row_number().over(w))
        .filter(F.col("_prn") <= 64)
        .select("o_orderkey", "o_totalprice")
    )
    return bottomk_quantiles(per_month, "o_orderkey", "o_totalprice")


@register(
    "bottomk_sample_quantiles",
    oracle=SK.bottomk_oracle_sql("orders", "o_orderkey", "o_totalprice"),
)
def q_bottomk_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third deterministic sketch: bottom-k (KMV-style) md5-rank sample
    quantiles of o_totalprice — the mergeable, order-independent,
    RNG-free estimate of the distribution (the scale answer where
    percentile_stats' exact per-group sort is the small-data answer, and
    approx_percentile's GK sketch the engine-native one). The sample is
    TakeOrderedAndProject (map-side top-k, no global sort shuffle);
    estimates are raw input doubles picked by integer index, so DuckDB
    reproduces them bit-for-bit. Rank-error ≲ 3% at k=1024, bounded in
    tests/test_sketches.py."""
    return SK.bottomk_quantiles(
        _t(spark, sf_dir, "orders"), "o_orderkey", "o_totalprice"
    )


@register(
    "cms_heavy_users_deterministic",
    oracle=SK.cms_oracle_sql("events", "user_id", 20),
)
def q_cms_heavy_users_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Count-Min heavy hitters (d=4 x w=256, md5 row-hashes)
    over events.user_id: top-20 users by CMS-estimated event count with a
    total (est DESC, key ASC) tie-break. The counter table is one
    map-side-combined shuffle to d*w=1024 rows; the per-key probe joins it
    broadcast. Estimates are integers, so the sketch — buckets, counters,
    min-over-rows, and ranking — is reproduced bit-for-bit by the DuckDB
    oracle. CMS >= exact (one-sided error) is property-tested in
    tests/test_sketches.py."""
    from backend_fastapi_spark.operators.sketches import cms_topk

    return cms_topk(_t(spark, sf_dir, "events"), "user_id", k=20)


@register(
    "kmv_set_cardinalities",
    oracle=SK.kmv_set_cardinalities_oracle_sql("orders", "o_orderpriority", "o_custkey"),
)
def q_kmv_set_cardinalities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set ALGEBRA (Beyer et al. 2007): per order-priority pair
    (distinct-customer sets: 1280-1304 members, pairwise overlaps
    ~1100-1130 — genuine partial-overlap structure, unlike the
    event-type user sets which are all identical),
    estimated |A∪B| from the k-th smallest 60-bit hash rank of the
    union's bottom-k ((k−1)·2⁶⁰/h_(k); exact when the union sketch
    isn't full) and |A∩B| = Ĵ·|A∪B|^ — completing the set-operation
    sketch member beyond Jaccard. Integer inputs, identical float
    expression order in both engines, floor-to-int64 finishes
    (Spark CASTs double→bigint by truncation, DuckDB by rounding —
    floor first makes them agree), so the estimates hash-match.
    Accuracy vs exact set sizes bounded in tests/test_sketches.py."""
    from backend_fastapi_spark.operators.sketches import (
        kmv_set_cardinalities,
    )

    return kmv_set_cardinalities(
        _t(spark, sf_dir, "orders"), "o_orderpriority", "o_custkey"
    )


@register(
    "kmv_set_similarity",
    oracle=SK.kmv_jaccard_oracle_sql("events", "event_type", "user_id"),
)
def q_kmv_set_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic KMV (bottom-k) set-similarity sketch: estimated
    Jaccard between every event-type pair's distinct-user SETS — the
    sketch family's set-operation member (HLL = cardinality, CMS =
    frequency, bottom-k = quantiles, KMV = overlap). md5-rank sketches
    of k=64 keys per group; a pair's estimate is the both-sides count
    over the union's bottom-k size (min(k, |A∪B|) — the Beyer et al.
    denominator) — every step integer/md5 arithmetic plus one int/int
    IEEE division, so the driver hash-checks the sketch end to end. Pair enumeration is over the
    GROUP dimension only; after the one distinct + window-top-k pass,
    everything runs on 64-row sketches. Estimator error vs exact Jaccard
    is bounded in tests/test_sketches.py."""
    from backend_fastapi_spark.operators.sketches import kmv_jaccard

    return kmv_jaccard(_t(spark, sf_dir, "events"), "event_type", "user_id")


@register(
    "bloom_prejoin_stats",
    oracle=SK.bloom_prejoin_oracle_sql(
        "(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')",
        "c_custkey",
        "orders",
        "o_custkey",
        "building_custkeys",
    ),
)
def q_bloom_prejoin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bloom-filter join prune, audited end to end: build
    the filter over BUILDING customers' keys (the small side), probe
    every distinct orders.o_custkey against it broadcast, and count
    passes / true members / false positives vs the exact semi-join —
    the membership sketch completing the deterministic family (HLL =
    cardinality, CMS = frequency, bottom-k = quantiles, KMV = overlap,
    Bloom = membership). md5 positions, integer pow2 sizing from the
    member count, 63-bit words, so DuckDB reproduces filter bits and
    the FP count exactly; no-false-negatives is structural and
    property-tested in tests/test_sketches.py. This is the explicit
    form of Spark's runtime bloom-filter rewrite: at 100 TB the filter
    broadcasts below the big side's shuffle and the pass-rate here is
    precisely the shuffle volume such a pushdown saves."""
    from backend_fastapi_spark.operators.sketches import bloom_prejoin_stats

    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return bloom_prejoin_stats(
        cust, "c_custkey",
        _t(spark, sf_dir, "orders"), "o_custkey",
        "building_custkeys",
    )


# C4 cleaning rules (Raffel et al. 2020 §2.2 — public): the synthetic
# corpus is single-line word soup (DuckDB probe: zero newlines, periods,
# braces or 'lorem ipsum' at every sf), so the filter is exercised on
# deterministically PLANTED page structure in BOTH engines — the same
# vacuity-avoidance pattern as pii_scrub_stats. Six planted lines per
# doc cover every rule: always-kept sentence, no-terminal-punctuation
# (id%3), javascript boilerplate (id%5), under-3-words (id%7),
# 'lorem ipsum' page drop (id%11), '{' code page drop (id%13); the
# min-kept-lines=4 page threshold fires on its own for ids where two of
# {3,5,7} divide (e.g. 0, 15, 21, 35, ...).
_C4_PLANT_SQL = """
      SELECT doc_id,
             'This is sentence one for doc ' || CAST(doc_id AS VARCHAR) || '.'
             || chr(10) || CASE WHEN doc_id % 3 = 0
                  THEN 'no terminal punctuation here'
                  ELSE 'Another proper sentence.' END
             || chr(10) || CASE WHEN doc_id % 5 = 0
                  THEN 'Please enable javascript to view.'
                  ELSE 'A third line with punctuation.' END
             || chr(10) || CASE WHEN doc_id % 7 = 0
                  THEN 'short.'
                  ELSE 'This fourth line also ends well for doc '
                       || CAST(doc_id AS VARCHAR) || '.' END
             || chr(10) || CASE WHEN doc_id % 11 = 0
                  THEN 'lorem ipsum dolor sit amet.'
                  ELSE 'Final line of the page.' END
             || chr(10) || CASE WHEN doc_id % 13 = 0
                  THEN 'function() { return 0; }'
                  ELSE 'Closing remarks are here.' END AS text
      FROM documents"""


def _c4_planted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of _C4_PLANT_SQL — six deterministic lines per
    doc; shared by the C4 line-filter and span-dedup queries so the
    planted structure cannot drift between them."""
    nl, brace_line = "\n", "function() { return 0; }"
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("This is sentence one for doc "),
            F.col("doc_id").cast("string"), F.lit("."),
            F.lit(nl),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit("no terminal punctuation here"))
            .otherwise(F.lit("Another proper sentence.")),
            F.lit(nl),
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit("Please enable javascript to view."))
            .otherwise(F.lit("A third line with punctuation.")),
            F.lit(nl),
            F.when(F.col("doc_id") % 7 == 0, F.lit("short."))
            .otherwise(F.concat(
                F.lit("This fourth line also ends well for doc "),
                F.col("doc_id").cast("string"), F.lit("."))),
            F.lit(nl),
            F.when(F.col("doc_id") % 11 == 0,
                   F.lit("lorem ipsum dolor sit amet."))
            .otherwise(F.lit("Final line of the page.")),
            F.lit(nl),
            F.when(F.col("doc_id") % 13 == 0, F.lit(brace_line))
            .otherwise(F.lit("Closing remarks are here.")),
        ).alias("text"),
    )


# Shared SQL fragments for the C4 rules — single source for the filter
# oracle AND the composed web-curation ledger (they must never drift).
_C4_LINE_KEEP_SQL = """list_filter(lines, l ->
               right(l, 1) IN ('.', '!', '?', '"')
               AND len(list_filter(string_split_regex(l, '\\s+'),
                                   x -> x != '')) >= 3
               AND NOT contains(lower(l), 'javascript'))"""
_C4_PAGE_COND_SQL = """NOT contains(lower(text), 'lorem ipsum')
                 AND NOT contains(text, chr(123))
                 AND len(keep) >= 4"""


@register(
    "c4_quality_filter",
    oracle=f"""
    WITH planted AS ({_C4_PLANT_SQL}),
    split AS (
      SELECT doc_id, text, string_split(text, chr(10)) AS lines
      FROM planted),
    kept AS (
      SELECT doc_id, text, lines,
             {_C4_LINE_KEEP_SQL} AS keep
      FROM split)
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(keep) AS BIGINT) AS n_kept_lines,
           CASE WHEN {_C4_PAGE_COND_SQL} THEN 1 ELSE 0 END AS doc_kept,
           CASE WHEN {_C4_PAGE_COND_SQL}
                THEN md5(list_aggregate(keep, 'string_agg', chr(10)))
           END AS clean_md5
    FROM kept
    """,
)
def q_c4_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style web-page cleaning (operators/text.py::c4_line_filter;
    Raffel et al. 2020 §2.2) over deterministically planted page
    structure: line-level keep (terminal punctuation + ≥3 words + no
    'javascript'), page-level drop ('lorem ipsum', brace, <4 kept lines).
    Reports per-doc line counts, the page verdict, and the md5 of the
    cleaned text — the hash certifies the REASSEMBLED page, not just
    the counts. Pure codegen'd column expressions, one scan, zero
    shuffles — the shape that makes this the first pass over 100 TB of
    raw crawl."""
    from backend_fastapi_spark.operators.text import c4_line_filter

    docs = _c4_planted_docs(spark, sf_dir)
    return c4_line_filter(docs, min_kept_lines=4).select(
        "doc_id",
        "n_lines",
        "n_kept_lines",
        "doc_kept",
        F.md5("clean_text").alias("clean_md5"),
    )


@register("quality_classifier_scores", oracle=None)  # MLlib LBFGS float math
def q_quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (operators/pipeline.py::
    quality_classifier_scores — the GPT-3/WebText recipe, Brown et al.
    2020 App. A): HashingTF features → distributed logistic regression
    on weak labels from the deterministic Gopher gate → per-doc
    P(good). Rows-only like the other MLlib paths; ranking power (AUC
    ≥ 0.95 on a vocabulary-signal corpus) asserted in
    tests/test_pipeline.py, and the plan's hash-evidence twin is
    quality_nb_scores (deterministic NB over the same features/labels,
    agreement-asserted). Stateless per-row featurization + a
    treeAggregate fit + a broadcast-model map — the classic 100 TB
    quality-filter plan."""
    from backend_fastapi_spark.operators.pipeline import (
        quality_classifier_scores,
    )

    return quality_classifier_scores(_t(spark, sf_dir, "documents"))


@register(
    "quality_nb_scores",
    oracle=f"""
    WITH {_TOKS_CTE},
    wc AS (
      SELECT doc_id, x AS g, COUNT(*) AS c
      FROM toks, LATERAL (SELECT unnest(w) AS x) t GROUP BY 1, 2),
    tw AS (SELECT doc_id, MAX(c) AS top_word_c FROM wc GROUP BY 1),
    base AS (
      SELECT doc_id, CAST(COALESCE(len(w), 0) AS BIGINT) AS n_words,
             CAST(COALESCE(len(list_distinct(w)), 0) AS DOUBLE)
               / CAST(greatest(COALESCE(len(w), 0), 1) AS DOUBLE) AS distinct_ratio
      FROM toks),
    lab AS (
      SELECT base.doc_id, CAST((n_words >= 20
               AND CAST(COALESCE(top_word_c, 0) AS DOUBLE)
                   / CAST(greatest(n_words, 1) AS DOUBLE) <= 0.11
               AND distinct_ratio >= 0.4) AS BIGINT) AS label
      FROM base LEFT JOIN tw ON base.doc_id = tw.doc_id),
    ftoks AS (
      SELECT doc_id, unnest(list_filter(
               string_split(lower(regexp_replace(text, '[^ -~]', ' ', 'g')), ' '),
               t -> t <> '')) AS tok
      FROM documents),
    tb AS (SELECT f.doc_id,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 4096 AS bucket,
             l.label
           FROM ftoks f JOIN lab l ON f.doc_id = l.doc_id),
    cls AS (SELECT bucket, SUM(label) AS n1, COUNT(*) - SUM(label) AS n0
            FROM tb GROUP BY bucket),
    tot AS (SELECT SUM(n1) AS all_n1, SUM(n0) AS all_n0 FROM cls),
    llr AS (SELECT bucket,
              CAST(ROUND(1e6 * ln(
                ((CAST(n1 AS DOUBLE) + 1.0)
                   / (CAST(all_n1 AS DOUBLE) + 4096.0))
                / ((CAST(n0 AS DOUBLE) + 1.0)
                   / (CAST(all_n0 AS DOUBLE) + 4096.0)))) AS BIGINT) AS llr_fp
            FROM cls, tot),
    cnt AS (SELECT doc_id, bucket, COUNT(*) AS cnt FROM tb GROUP BY 1, 2),
    scored AS (SELECT c.doc_id,
                      CAST(SUM(c.cnt * l.llr_fp) AS BIGINT) AS score_fp,
                      CAST(SUM(c.cnt) AS BIGINT) AS n_toks
               FROM cnt c JOIN llr l USING (bucket) GROUP BY c.doc_id)
    SELECT lab.doc_id, lab.label,
           CAST(COALESCE(s.n_toks, 0) AS BIGINT) AS n_toks,
           CAST(COALESCE(s.score_fp, 0) AS BIGINT) AS score_fp
    FROM lab LEFT JOIN scored s ON lab.doc_id = s.doc_id
    """,
)
def q_quality_nb_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-evidence twin of quality_classifier_scores
    (VERDICT r12 directive #2 — the one rows-only family without one):
    multinomial Naive Bayes on the SAME md5-hashed unigram feature space
    and SAME Gopher weak labels, pure counts/logs in int64 fixed-point
    (operators/pipeline.py::nb_quality_scores), so the driver
    hash-certifies the quality-scoring plan end to end — weak labeling,
    featurization, class-conditional fit, per-doc scoring. Ranking
    agreement with the MLlib-LR path is asserted in
    tests/test_pipeline.py::test_nb_twin_agrees_with_lr_ranking. The
    4096-row NB model broadcasts — corpus size never changes its
    footprint (the DSIR/GPT-3 quality-filter plan at 100 TB)."""
    from backend_fastapi_spark.operators.pipeline import nb_quality_scores

    return nb_quality_scores(_t(spark, sf_dir, "documents"))


@register(
    "dsir_importance_weights",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, unnest(list_filter(
               string_split(lower(regexp_replace(text, '[^ -~]', ' ', 'g')), ' '),
               t -> t <> '')) AS tok
      FROM documents),
    tb AS (SELECT doc_id, lang,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 4096 AS bucket
           FROM toks),
    src AS (SELECT bucket, count(*) AS ns FROM tb GROUP BY bucket),
    tgt AS (SELECT bucket, count(*) AS nt
            FROM tb WHERE lang = 'en' GROUP BY bucket),
    tot AS (SELECT (SELECT sum(ns) FROM src) AS all_ns,
                   (SELECT sum(nt) FROM tgt) AS all_nt),
    lr AS (SELECT s.bucket,
             CAST(ROUND(1e6 * ln(
               ((CAST(coalesce(t.nt, 0) AS DOUBLE) + 1.0)
                  / (CAST(all_nt AS DOUBLE) + 4096.0))
               / ((CAST(s.ns AS DOUBLE) + 1.0)
                  / (CAST(all_ns AS DOUBLE) + 4096.0)))) AS BIGINT) AS lr_fp
           FROM src s LEFT JOIN tgt t USING (bucket), tot),
    cnt AS (SELECT doc_id, bucket, count(*) AS cnt
            FROM tb GROUP BY doc_id, bucket),
    scored AS (SELECT c.doc_id,
                      CAST(sum(c.cnt * l.lr_fp) AS BIGINT) AS score_fp,
                      CAST(sum(c.cnt) AS BIGINT) AS n_toks
               FROM cnt c JOIN lr l USING (bucket) GROUP BY c.doc_id)
    SELECT s.doc_id, d.lang, s.n_toks, s.score_fp
    FROM scored s JOIN documents d USING (doc_id)
    ORDER BY s.score_fp DESC, s.doc_id ASC LIMIT 100
    """,
)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection via importance resampling (DSIR, Xie et al. 2023):
    per-doc log-likelihood ratio between the target-domain ('en' slice,
    the curated-domain proxy) and full-corpus hashed-unigram
    multinomials — the published recipe for steering a web-scale corpus
    toward a curated domain, joining quality_classifier_scores and
    temperature_sample_langs in the data-selection family. Deterministic
    twin of the fasttext/KenLM production form: md5 feature hash, add-one
    smoothing, int64 fixed-point log-ratios (operators/pipeline.py::
    dsir_weights), so the driver hash-checks model fit AND scoring. The
    4096-row importance model broadcasts — corpus size never changes the
    model's footprint."""
    from backend_fastapi_spark.operators.pipeline import dsir_weights

    return dsir_weights(_t(spark, sf_dir, "documents"))


@register(
    "ccnet_ppl_buckets",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, unnest(list_filter(
               string_split(lower(regexp_replace(text, '[^ -~]', ' ', 'g')), ' '),
               t -> t <> '')) AS tok
      FROM documents),
    tb AS (SELECT doc_id, lang,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 4096 AS bucket
           FROM toks),
    cb AS (SELECT bucket, count(*) AS nc FROM tb GROUP BY bucket),
    ref AS (SELECT bucket, count(*) AS nt
            FROM tb WHERE lang = 'en' GROUP BY bucket),
    tot AS (SELECT sum(nt) AS all_nt FROM ref),
    lm AS (SELECT c.bucket,
             CAST(ROUND(1e6 * ln(
               (CAST(coalesce(r.nt, 0) AS DOUBLE) + 1.0)
                 / (CAST(all_nt AS DOUBLE) + 4096.0))) AS BIGINT) AS logp_fp
           FROM cb c LEFT JOIN ref r USING (bucket), tot),
    cnt AS (SELECT doc_id, bucket, count(*) AS cnt
            FROM tb GROUP BY doc_id, bucket),
    scored AS (SELECT c.doc_id,
                      CAST(-sum(c.cnt * l.logp_fp) AS BIGINT) AS ce_fp,
                      CAST(sum(c.cnt) AS BIGINT) AS n_toks
               FROM cnt c JOIN lm l USING (bucket) GROUP BY c.doc_id),
    sc2 AS (SELECT doc_id, n_toks,
                   CAST((ce_fp * 1000) // n_toks AS BIGINT) AS ce_tok_fp
            FROM scored),
    rng AS (SELECT MIN(ce_tok_fp) AS mn, MAX(ce_tok_fp) AS mx,
                   COUNT(*) AS n FROM sc2),
    binned AS (SELECT doc_id, n_toks, ce_tok_fp,
                 CAST((ce_tok_fp - mn) // ((mx - mn) // 512 + 1) AS BIGINT)
                   AS bin
               FROM sc2, rng),
    bins AS (SELECT bin, count(*) AS bn FROM binned GROUP BY bin),
    cum AS (SELECT bin,
              SUM(bn) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
            FROM bins),
    thr AS (SELECT MIN(CASE WHEN cum >= (n + 2) // 3 THEN bin END) AS t1,
                   MIN(CASE WHEN cum >= (2 * n + 2) // 3 THEN bin END) AS t2
            FROM cum, rng),
    assigned AS (
      SELECT doc_id, n_toks, ce_tok_fp,
             CASE WHEN bin <= t1 THEN 'head'
                  WHEN bin <= t2 THEN 'middle'
                  ELSE 'tail' END AS ppl_bucket
      FROM binned, thr)
    SELECT doc_id, n_toks, ce_tok_fp, ppl_bucket FROM assigned
    UNION ALL
    SELECT d.doc_id, CAST(0 AS BIGINT), CAST(NULL AS BIGINT), 'tail'
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM assigned)
    """,
)
def q_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity tiers (Wenzek et al. 2020) over
    the documents corpus — the LM-quality tiering step of the published
    web-crawl curation recipe, joining the quality-scoring family
    (quality_nb_scores, dsir_importance_weights) with the third
    published selection signal: cross-entropy under a reference LM
    (here the deterministic hashed-unigram stand-in for
    KenLM-on-Wikipedia, the dsir substitution). Hash-checked end to
    end: LM fit, per-doc fixed-point cross-entropy, histogram-derived
    tercile thresholds, and the final head/middle/tail assignment
    (operators/pipeline.py::ccnet_ppl_buckets — the scale rationale for
    the bin-granular thresholds lives there)."""
    from backend_fastapi_spark.operators.pipeline import ccnet_ppl_buckets

    return ccnet_ppl_buckets(_t(spark, sf_dir, "documents"))


def _c4_span_cte(input_cte: str, n: int = 3) -> str:
    """Span-dedup CTE chain over any (doc_id, text) relation named by
    ``input_cte`` — shared by c4_span_dedup and the composed web
    curation ledger so the two cannot drift. Defines l / sp / occ /
    dups / dupagg / kept / reasm; the caller selects from them."""
    return f"""
    l AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM {input_cte}),
    sp AS (
      SELECT doc_id, i - 1 AS pos,
             md5(list_aggregate(lines[i:i+{n - 1}], 'string_agg', chr(10)))
               AS span_h
      FROM l, LATERAL (SELECT unnest(range(1, len(lines) - {n} + 2)) AS i) t),
    occ AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY span_h
                                ORDER BY doc_id, pos) AS rn
      FROM sp),
    dups AS (SELECT doc_id, pos FROM occ WHERE rn > 1),
    dupagg AS (SELECT doc_id, count(*) AS n_dup FROM dups GROUP BY doc_id),
    kept AS (
      SELECT l.doc_id, i, lines[i] AS line
      FROM l, LATERAL (SELECT unnest(range(1, len(lines) + 1)) AS i) t
      WHERE NOT EXISTS (
        SELECT 1 FROM dups d
        WHERE d.doc_id = l.doc_id AND i - 1 BETWEEN d.pos AND d.pos + {n - 1})),
    reasm AS (
      SELECT doc_id, count(*) AS n_kept,
             md5(string_agg(line, chr(10) ORDER BY i)) AS clean_md5,
             string_agg(line, chr(10) ORDER BY i) AS clean_text
      FROM kept GROUP BY doc_id)"""


@register(
    "c4_span_dedup",
    oracle=f"""
    WITH planted AS ({_C4_PLANT_SQL}),
    {_c4_span_cte("planted")}
    SELECT l.doc_id,
           CAST(len(lines) AS BIGINT) AS n_sents,
           CAST(greatest(len(lines) - 2, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(da.n_dup, 0) AS BIGINT) AS n_dup_spans,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept_sents,
           r.clean_md5
    FROM l LEFT JOIN dupagg da USING (doc_id)
           LEFT JOIN reasm r USING (doc_id)
    """,
)
def q_c4_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's cross-document three-sentence-span dedup (operators/
    text.py::c4_span_dedup) over the planted pages: every run of 3
    consecutive lines is hashed, the corpus-wide FIRST occurrence
    (total order (doc_id, pos)) survives, and later occurrences lose
    the lines they cover. The planted pages draw lines from small
    per-rule pools, so span triples repeat heavily across docs — a
    rich, deterministic dup structure. Hash-checked end to end: span
    counts, dup counts, surviving-sentence counts, AND the md5 of each
    reassembled doc. One shuffle on the span hash + one per-doc
    gather; the corpus text never shuffles."""
    from backend_fastapi_spark.operators.text import c4_span_dedup

    return c4_span_dedup(_c4_planted_docs(spark, sf_dir), n=3).select(
        "doc_id",
        "n_sents",
        "n_spans",
        "n_dup_spans",
        "n_kept_sents",
        F.md5("clean_text").alias("clean_md5"),
    )


@register(
    "web_curation_pipeline",
    oracle=f"""
    WITH planted AS ({_C4_PLANT_SQL}),
    csplit AS (
      SELECT doc_id, text, string_split(text, chr(10)) AS lines
      FROM planted),
    ckept AS (
      SELECT doc_id, text, lines, {_C4_LINE_KEEP_SQL} AS keep
      FROM csplit),
    cpages AS (
      SELECT doc_id, list_aggregate(keep, 'string_agg', chr(10)) AS text
      FROM ckept WHERE {_C4_PAGE_COND_SQL}),
    {_c4_span_cte("cpages")},
    span_kept AS (
      SELECT doc_id, clean_text FROM reasm WHERE n_kept >= 2)
    SELECT 'a_raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs FROM planted
    UNION ALL SELECT 'b_c4_pages', CAST(COUNT(*) AS BIGINT) FROM cpages
    UNION ALL SELECT 'c_span_kept', CAST(COUNT(*) AS BIGINT) FROM span_kept
    UNION ALL SELECT 'd_exact_unique',
              CAST(COUNT(DISTINCT md5(clean_text)) AS BIGINT) FROM span_kept
    """,
)
def q_web_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WEB-corpus curation ledger — the r7 C4 family composed the
    way a crawl pipeline runs it (complementing the word-soup
    corpus_curation_pipeline flagship): planted pages → C4 line/page
    cleaning → cross-document 3-sentence-span dedup (≥2 surviving
    sentences) → exact dedup on the fully-cleaned text. Output = the
    per-stage survivor counts a curator reads before committing the
    prune (500 → 415 → 361 → 361 at sf0.01; the exact stage's zero
    drop is honest — surviving pages keep doc-unique lines, so no two
    cleaned texts collide; exact-dedup drops are exercised in
    corpus_curation_pipeline and exact_dup_groups); every stage reuses
    an already-hash-green operator and the
    oracle is assembled from the SAME shared SQL fragments
    (_C4_LINE_KEEP_SQL / _C4_PAGE_COND_SQL / _c4_span_cte), so the
    composition cannot drift from its pieces. Plan: the cleaned-pages
    set is materialized once (it feeds the span substrate AND the
    ledger); span dedup is one shuffle on the span hash; the exact
    stage ships only md5s."""
    from backend_fastapi_spark.operators.text import (
        c4_line_filter,
        c4_span_dedup,
    )
    from backend_fastapi_spark.operators.util import materialize

    docs = _c4_planted_docs(spark, sf_dir)
    pages = materialize(
        c4_line_filter(docs, min_kept_lines=4)
        .filter(F.col("doc_kept") == 1)
        .select("doc_id", F.col("clean_text").alias("text"))
    )
    span_kept = materialize(
        c4_span_dedup(pages, n=3)
        .filter(F.col("n_kept_sents") >= 2)
        .select("doc_id", "clean_text")
    )

    def stage(name, df):
        return df.agg(F.count(F.lit(1)).alias("n_docs")).select(
            F.lit(name).alias("stage"), "n_docs"
        )

    exact_unique = span_kept.select(F.md5("clean_text").alias("h")).distinct()
    return (
        stage("a_raw", docs)
        .unionByName(stage("b_c4_pages", pages))
        .unionByName(stage("c_span_kept", span_kept))
        .unionByName(stage("d_exact_unique", exact_unique))
    )


# Lake-maintenance data-skipping audit (VERDICT r06 directive #4): the
# written layout is deterministic, so the footer statistics are too —
# this turns cluster_write/skipping_report from test-only evidence into
# a driver hash-green row. The write lands under the repo's gitignored
# .maintdata/<sf>/ and the DuckDB oracle reads THE SAME footers via
# parquet_metadata(), so both engines audit identical bytes.
_MAINT_ROOT = _os_mod.path.join(
    _os_mod.path.dirname(_os_mod.path.dirname(_os_mod.path.abspath(__file__))),
    ".maintdata",
)
_MAINT_LO, _MAINT_HI = 1, 1000  # bottom slice of o_orderkey


def _maint_skip_oracle_sql() -> str:
    # The driver's oracle always runs at sf0.01 AFTER the Spark query
    # (which writes the layouts); the path is keyed by sf basename so a
    # bench run at another sf never clobbers the oracle's files.
    base = f"{_MAINT_ROOT}/sf0.01"
    parts = []
    for layout in ("scattered", "clustered"):
        parts.append(f"""
      SELECT '{layout}' AS layout,
             CAST(stats_min_value AS BIGINT) AS mn,
             CAST(stats_max_value AS BIGINT) AS mx
      FROM parquet_metadata('{base}/{layout}/*.parquet')
      WHERE path_in_schema = 'o_orderkey'""")
    union = " UNION ALL ".join(parts)
    return f"""
    WITH rg AS ({union})
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS row_groups,
           CAST(SUM(CASE WHEN mn IS NULL OR mx IS NULL
                         OR NOT (mx < {_MAINT_LO} OR mn > {_MAINT_HI})
                    THEN 1 ELSE 0 END) AS BIGINT) AS overlapping
    FROM rg GROUP BY layout
    """


_ZORDER_BOXES = {"o_custkey": (1, 150), "o_orderkey": (1, 1500)}


def _zorder_skip_oracle_sql() -> str:
    # Same footer-audit discipline as _maint_skip_oracle_sql: DuckDB's
    # parquet_metadata() reads the identical row-group stats pyarrow
    # reports to the Spark side; integer columns keep the envelopes
    # engine-exact.
    base = f"{_MAINT_ROOT}/sf0.01"
    parts = []
    for layout in ("zo_clustered", "zo_zorder"):
        for col, (lo, hi) in _ZORDER_BOXES.items():
            parts.append(f"""
      SELECT '{layout.removeprefix('zo_')}' AS layout, '{col}' AS col,
             CAST(COUNT(*) AS BIGINT) AS row_groups,
             CAST(SUM(CASE WHEN stats_min_value IS NULL
                           OR stats_max_value IS NULL
                           OR NOT (CAST(stats_max_value AS BIGINT) < {lo}
                                   OR CAST(stats_min_value AS BIGINT) > {hi})
                      THEN 1 ELSE 0 END) AS BIGINT) AS overlapping
      FROM parquet_metadata('{base}/{layout}/*.parquet')
      WHERE path_in_schema = '{col}'""")
    return " UNION ALL ".join(parts) + " ORDER BY layout, col"


@register("zorder_skipping", oracle=_zorder_skip_oracle_sql())
def q_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column data skipping via Z-ORDER clustering
    (operators/maintenance.py::zorder_write — Delta's OPTIMIZE ZORDER as
    a plain-parquet operator), audited from the footers by both engines.
    Write orders twice: range-clustered on o_custkey alone, and
    Z-ordered on (o_custkey, o_orderkey) — bit-interleaved space-filling
    curve, pure codegen bitwise expressions. The single-column layout is
    perfect on its own column and USELESS on the other (overlap 1.0);
    the Z-order layout keeps row-group envelopes selective for ~10%
    range predicates on EITHER column — the 100 TB layout lever when one
    table serves two access paths and bucketing can only pick one. The
    audit counts exactly the row groups a stats-aware scan must read
    (the statistic Spark's parquet row-group filter consults), and both
    engines count them from the same persisted footers."""
    import os

    from backend_fastapi_spark.operators import maintenance as M

    base = os.path.join(
        _MAINT_ROOT, os.path.basename(sf_dir.rstrip("/")) or "sf"
    )
    orders = _t(spark, sf_dir, "orders")
    clustered = os.path.join(base, "zo_clustered")
    zordered = os.path.join(base, "zo_zorder")
    M.cluster_write(orders, clustered, ["o_custkey"], 8)
    M.zorder_write(orders, zordered, ["o_custkey", "o_orderkey"], 8)
    rows = [
        (layout, col, rep["row_groups"], rep["overlapping"])
        for layout, path in (("clustered", clustered), ("zorder", zordered))
        for col, (lo, hi) in _ZORDER_BOXES.items()
        for rep in (M.skipping_report(path, col, lo, hi),)
    ]
    return local_frame(
        spark,
        rows,
        "layout string, col string, row_groups long, overlapping long",
    ).orderBy("layout", "col")


def _index_audit_oracle_sql() -> str:
    # The driver's oracle pass runs at sf0.01 — audit THE SAME partitioned
    # parquet the Spark query just wrote there (maintenance_skipping
    # precedent: both engines read identical files).
    base = f"{_INDEX_ROOT}/sf0.01/vector_index"
    return f"""
    SELECT index_name,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(SUM(((chunk_id % 1000003) + 1000003) % 1000003) AS BIGINT)
             AS chunk_id_sum,
           CAST(SUM(length(text)) AS BIGINT) AS text_chars
    FROM read_parquet('{base}/*/*.parquet', hive_partitioning = 1)
    -- mirror the Spark side's isin filter (ADVICE r8): a stray hive
    -- partition left by an older/interrupted run variant must not
    -- diverge the hash
    WHERE index_name IN ('idx_a', 'idx_b')
    GROUP BY index_name ORDER BY index_name
    """


def _ivf_append_audit_oracle_sql() -> str:
    # Same both-engines-read-the-persisted-files discipline as
    # index_sink_audit: the oracle audits the exact inverted lists the
    # Spark query just grew in place at the driver's sf0.01.
    base = f"{_INDEX_ROOT}/sf0.01/ivf_index/lists"
    return f"""
    SELECT CAST(cluster AS BIGINT) AS cluster,
           COUNT(*) AS n_vecs,
           CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_base,
           CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_appended,
           CAST(SUM(vec_id % 1000003) AS BIGINT) AS id_sum
    FROM read_parquet('{base}/*/*.parquet', hive_partitioning = 1)
    GROUP BY cluster ORDER BY cluster
    """


@register("ivf_append_audit", oracle=_ivf_append_audit_oracle_sql())
def q_ivf_append_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index growth promoted to driver hash-green: build
    the index over the EVEN vec_ids (MLlib KMeans coarse quantizer,
    seeded), persist it partitioned by cluster, then ``ivf_append`` the
    ODD vec_ids — the FAISS ``index.add()`` serving role (reference
    add-documents path, src/services/enhanced_internal_db_service.py:
    602-630): new vectors argmin-assign to the EXISTING centroids and
    land as appended files only under the clusters they hit; the base
    lists never re-shuffle or rewrite (byte-stability asserted in
    tests/test_api.py::test_ivf_append_grows_index_without_rewrites).
    Both engines then audit the persisted lists — per-cluster totals,
    base/appended split, id checksum — certifying the grown index's
    on-disk layout and that the append lost and duplicated nothing."""
    import os

    from backend_fastapi_spark.operators.ivf import (
        build_ivf,
        ivf_append,
        write_ivf_index,
    )

    base_dir = os.path.join(
        _INDEX_ROOT,
        os.path.basename(sf_dir.rstrip("/")) or "sf",
        "ivf_index",
    )
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    extra = emb.filter(F.col("vec_id") % 2 == 1)
    assigned, centroids = build_ivf(base, k_clusters=8)
    write_ivf_index(assigned, centroids, base_dir, mode="overwrite")
    ivf_append(spark, base_dir, extra)
    back = spark.read.parquet(f"{base_dir}/lists")
    return (
        back.groupBy(F.col("cluster").cast("long").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(
                F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0)
            ).alias("n_base"),
            F.sum(
                F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0)
            ).alias("n_appended"),
            F.sum(F.col("vec_id") % 1000003).alias("id_sum"),
        )
        .orderBy("cluster")
    )


def _ivf_sq8_audit_oracle_sql() -> str:
    # Both-engines-read-the-persisted-files discipline (index_sink_audit /
    # ivf_append_audit): audit the SQ8-carrying inverted lists the Spark
    # query just wrote at the driver's sf0.01 — per-cluster counts, the
    # scale column mass, and an order-independent code checksum proving
    # the int8 codes landed next to the vectors they quantize.
    base = f"{_INDEX_ROOT}/sf0.01/ivf_sq8"
    return f"""
    SELECT CAST(cluster AS BIGINT) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(scale_fx) AS BIGINT) AS scale_sum,
           CAST(SUM(list_sum(list_transform(code, x -> abs(x)))) AS BIGINT)
             AS code_abs_sum,
           CAST(SUM(vec_id % 1000003) AS BIGINT) AS id_sum
    FROM read_parquet('{base}/lists/*/*.parquet', hive_partitioning = 1)
    GROUP BY cluster ORDER BY cluster
    """


@register("ivf_sq8_index_audit", oracle=_ivf_sq8_audit_oracle_sql())
def q_ivf_sq8_index_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted IVFx,SQ8 LAYOUT promoted to driver hash-green
    (operators/ivf.py::write_ivf_sq8_index): inverted lists carrying the
    int8 code columns beside the full vectors, so the candidate pass of
    ``ivf_sq8_search_persisted`` scans a column-pruned projection of the
    probed partitions (ReadSchema without the embedding column — plan
    test) and the re-rank re-reads vectors for the shortlist only. Both
    engines audit the same persisted files: per-cluster counts, the
    scale column, an order-independent |code| checksum, and the id sum —
    certifying the codes landed correctly quantized next to their
    vectors. Search semantics are separately hash-checked by
    ``ann_ivf_sq8_top10``; byte economics by
    tests/test_api.py::test_ivf_sq8_layout_byte_ratio (~30% of the
    embedding column's compressed bytes)."""
    import os

    from backend_fastapi_spark.operators.ivf import (
        build_ivf,
        write_ivf_sq8_index,
    )

    base_dir = os.path.join(
        _INDEX_ROOT,
        os.path.basename(sf_dir.rstrip("/")) or "sf",
        "ivf_sq8",
    )
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned, centroids = build_ivf(emb, k_clusters=8)
    write_ivf_sq8_index(assigned, centroids, base_dir, mode="overwrite")
    back = spark.read.parquet(f"{base_dir}/lists")
    return (
        back.groupBy(F.col("cluster").cast("long").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("scale_fx").alias("scale_sum"),
            F.sum(
                F.aggregate(
                    F.transform("code", lambda x: F.abs(x).cast("long")),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                )
            ).alias("code_abs_sum"),
            F.sum(F.col("vec_id") % 1000003).alias("id_sum"),
        )
        .orderBy("cluster")
    )


@register("index_sink_audit", oracle=_index_audit_oracle_sql())
def q_index_sink_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11-S13 promoted to driver hash-green: the vector-index sink
    lifecycle exercised end to end, then audited from the persisted
    files by BOTH engines. Batch 1 ingests two indexes (idx_a = even
    docs, idx_b = odd docs) through the full §3.2 pipeline
    (plans/ingest.py::ingest_table — recursive chunker + embeddings)
    and writes them partitioned by index_name (S11, dynamic partition
    overwrite). Batch 2 rewrites ONLY idx_a (a re-chunk at size 500 of
    the doc_id % 4 == 0 slice) — the partition-scoped overwrite the
    per-index-directory isolation promise requires; idx_b's files
    survive untouched. The read-back (S12) filters on the partition
    column so only the two hive partitions are scanned, and the audit
    aggregates (chunk counts, distinct docs, chunk_id checksum, text
    chars) come from Spark's scan while the oracle computes THE SAME
    numbers with DuckDB's read_parquet(hive_partitioning=1) over the
    same directory — certifying the persisted layout and cross-engine
    readability of the sink's output (embedding arrays ride along).
    Overwrite-isolation SEMANTICS are asserted in tests
    (tests/test_ingest.py, test_sources.py roundtrips); this row
    certifies what lands on disk."""
    import os

    from backend_fastapi_spark.plans.ingest import ingest_table, write_index

    base = os.path.join(
        _INDEX_ROOT,
        os.path.basename(sf_dir.rstrip("/")) or "sf",
        "vector_index",
    )
    docs = _t(spark, sf_dir, "documents")
    even = ingest_table(docs.filter(F.col("doc_id") % 2 == 0), "idx_a")
    odd = ingest_table(docs.filter(F.col("doc_id") % 2 == 1), "idx_b")
    write_index(even.unionByName(odd), base)
    # partition-scoped rewrite: only idx_a's directory changes
    redo = ingest_table(
        docs.filter(F.col("doc_id") % 4 == 0), "idx_a", chunk_size=500
    )
    write_index(redo, base)
    back = spark.read.parquet(base).filter(
        F.col("index_name").isin("idx_a", "idx_b")
    )
    return (
        back.groupBy("index_name")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum(
                ((F.col("chunk_id") % 1000003) + 1000003) % 1000003
            ).alias("chunk_id_sum"),
            F.sum(F.length("text")).alias("text_chars"),
        )
        .orderBy("index_name")
    )


@register("maintenance_skipping", oracle=_maint_skip_oracle_sql())
def q_maintenance_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-group data-skipping audit over two layouts of the same table
    (reference index lifecycle, src/services/vector_db_service.py — what
    its create/bootstrap sinks leave implicit): write orders once
    round-robin-scattered and once range-clustered on o_orderkey, then
    report from the parquet footers how many row groups a stats-aware
    scan of ``o_orderkey BETWEEN 1 AND 1000`` must read. Clustering is
    THE 100 TB lever here — the clustered layout confines the probe to
    its own slice (≤2 of 8 row groups) while the scattered one forces a
    full read (8/8) — and the footer audit is exactly the statistic
    Spark's parquet row-group filter consults, so lower overlap is
    less IO, not a proxy metric. Both layouts are written with a
    deterministic exchange (round-robin and sampled-range boundaries are
    both stable for a fixed input layout), making the footer envelopes —
    and this audit — hash-reproducible."""
    import os

    from backend_fastapi_spark.operators import maintenance as M

    base = os.path.join(
        _MAINT_ROOT, os.path.basename(sf_dir.rstrip("/")) or "sf"
    )
    orders = _t(spark, sf_dir, "orders")
    scattered = os.path.join(base, "scattered")
    clustered = os.path.join(base, "clustered")
    orders.repartition(8).write.mode("overwrite").parquet(scattered)
    M.cluster_write(orders, clustered, ["o_orderkey"], 8)
    rows = [
        (layout, rep["row_groups"], rep["overlapping"])
        for layout, path in (("scattered", scattered), ("clustered", clustered))
        for rep in (M.skipping_report(path, "o_orderkey", _MAINT_LO, _MAINT_HI),)
    ]
    return local_frame(
        spark, rows, "layout string, row_groups long, overlapping long"
    )


# Driver-evidence bookkeeping. The driver walks the registry in emitted
# order and budget-caps how many queries it checks per round (~50 slots),
# so order by how much a fresh driver row is worth. Round-4 lesson: a
# green hash row is only evidence FOR THE DATA IT RAN ON — the driver
# regenerated /root/testdata at round-4 start, so greens hashed before
# _DATA_GEN_ROUND are STALE and must re-emit ahead of fresh greens.
#
# Emit order (stable within each tier by the order below / registry order):
#   tier 0 — _PRIORITY_REFRESH: the events-reading family (events.ts is
#            exactly the column whose layout changed in the regeneration)
#            plus the reference's most user-facing CRUD/JSON surfaces;
#   tier 1 — oracle-bearing queries with NO green hash row in ANY round
#            (new queries; also queries whose semantics changed — delete
#            their _LAST_GREEN entry when changing them);
#   tier 2 — remaining stale greens, last-green round ASCENDING (r1
#            evidence is two data-generations old, refresh first);
#   tier 3 — oracle=None queries the driver has never even run;
#   tier 5 — greens hashed on the CURRENT data generation, last-green
#            round ASCENDING (oldest fresh evidence re-rotates first so
#            the all-fresh registry keeps cycling under the sweep budget),
#            INTERLEAVED with the rows-only-by-design queries keyed by
#            their last EXERCISED round (VERDICT r12 #1 — they must not
#            head every sweep as permanent no_oracle rows, but must still
#            re-rotate through the tail every few rounds).
#   (tier 4 retired in r13: rows-only-exercised now rides tier 5.)
# Maintained by scripts/update_verified.py after each round's CORRECTNESS
# file lands. scripts/write_emit_order.py regenerates the committed
# QUERY_EMIT_ORDER.json sidecar so every round's artifact records which
# names sat beyond the sweep budget (tests pin committed == computed).

# Testdata generation this map is judged against: bump when the driver
# regenerates /root/testdata (greens from earlier rounds become stale).
_DATA_GEN_ROUND = 4

# name -> round of most recent driver green-hash row (CORRECTNESS_r0N.json).
_LAST_GREEN = {
    "anchor_extraction": 12,
    "ann_ivf_deterministic": 10,
    "ann_ivf_sq8_top10": 10,
    "ann_ivfpq_top10": 10,
    "ann_pq_adc_top10": 10,
    "ann_rp_topk": 9,
    "ann_sq8_rerank": 10,
    "ar_rollout_forecast": 12,
    "asof_join_events_orders": 9,
    "attribute_filter": 9,
    "bloom_prejoin_stats": 10,
    "bm25_keyword_topk": 11,
    "bm25_postings_delta": 11,
    "bm25_search_persisted": 11,
    "bootstrap_personal_store": 9,
    "bottomk_monthly_merge": 11,
    "bottomk_sample_quantiles": 10,
    "bpe_top_merges": 9,
    "brand_price_stats": 10,
    "branded_quantity_revenue": 10,
    "c4_quality_filter": 11,
    "c4_span_dedup": 11,
    "catalog_tables_rowcounts": 12,
    "chunk_documents": 11,
    "chunk_documents_multichunk": 11,
    "chunk_documents_recursive": 10,
    "cms_heavy_users_deterministic": 10,
    "cohort_retention": 9,
    "corpus_curation_pipeline": 10,
    "cube_status_priority": 12,
    "customer_360": 12,
    "customer_order_distribution": 10,
    "customers_with_orders": 11,
    "customers_without_orders": 9,
    "daily_value_by_type": 10,
    "decontaminate_test_split": 9,
    "dedup_canonical_corpus": 9,
    "dedup_min_event": 11,
    "delete_keys_orders": 12,
    "distinct_count_stats": 9,
    "diversified_docs": 11,
    "doc_embed_knn": 12,
    "doc_fingerprint_groups": 11,
    "doc_template_assembly": 11,
    "dsir_importance_weights": 12,
    "dup_clusters": 9,
    "dup_clusters_minhash": 12,
    "dup_rate_by_source": 10,
    "embedding_near_dup": 11,
    "embedding_near_dup_rp": 11,
    "embedding_near_dup_rp_sized": 12,
    "events_burst_60s": 9,
    "exact_dup_groups": 9,
    "filtered_projection": 10,
    "forecast_revenue_change": 10,
    "from_json_native": 9,
    "funnel_conversion": 9,
    "gopher_repetition_filter": 9,
    "grocery_best_store": 12,
    "grouping_sets_revenue": 9,
    "hll_distinct_deterministic": 10,
    "hll_monthly_merge": 11,
    "html_strip": 12,
    "hybrid_rag_end_to_end": 12,
    "hybrid_rrf_topk": 11,
    "hybrid_search_persisted": 11,
    "idle_rich_customers": 10,
    "incremental_dedup_batch": 9,
    "incremental_dedup_via_state": 11,
    "index_sink_audit": 12,
    "ingest_pipeline_chunks": 9,
    "ingest_pipeline_embedded": 10,
    "ivf_append_audit": 9,
    "ivf_sq8_index_audit": 10,
    "json_extract_stats": 12,
    "keyword_or_filter": 10,
    "kmv_set_cardinalities": 11,
    "kmv_set_similarity": 10,
    "knn_batch_top5": 11,
    "knn_margin_topk": 11,
    "knn_top10_dot": 11,
    "knn_top10_l2": 11,
    "lang_id_confusion": 10,
    "lang_quality_score": 11,
    "large_volume_customers": 10,
    "late_shipment_priority": 10,
    "maintenance_skipping": 11,
    "market_chart_bars": 12,
    "minhash_lsh_candidates": 11,
    "minhash_verified_dupes": 11,
    "minmax_rescale": 12,
    "mmr_diversified_topk": 11,
    "multi_key_sort": 11,
    "multimodal_feature_stats": 9,
    "next_order_asof_forward": 9,
    "ngram_jaccard_dupes": 11,
    "null_normalization": 10,
    "order_status_histogram": 10,
    "orders_growth_mom": 10,
    "pack_docs_budget": 11,
    "pack_pretrain_sequences": 10,
    "paginated_orders": 12,
    "pct_change_daily": 12,
    "per_customer_top3_orders": 11,
    "percentile_stats": 12,
    "pii_scrub_stats": 10,
    "pivot_priority_by_status": 12,
    "pricing_summary": 12,
    "promo_revenue_share": 10,
    "rag_retrieval_batch": 12,
    "rag_retrieval_pipeline": 9,
    "recursive_chunk_merge_oracle": 12,
    "region_revenue": 9,
    "returned_items_by_customer": 10,
    "rewrite_chain": 12,
    "rollup_region_nation": 12,
    "rss_items_parsed": 10,
    "salted_skew_sum": 12,
    "scalar_subquery_join": 10,
    "scd2_customer_merge": 9,
    "semantic_dedup_pairs": 9,
    "semantic_dedup_summary": 9,
    "semantic_dedup_union": 11,
    "sentence_segments": 9,
    "session_window_native": 12,
    "sessionize_events": 12,
    "shipmode_priority_counts": 10,
    "shipping_priority": 9,
    "simhash_pairs": 12,
    "sliding_window_counts": 12,
    "small_quantity_revenue": 10,
    "stratified_sample_langs": 9,
    "supplier_balance_by_region": 12,
    "temperature_sample_langs": 10,
    "tfidf_top_terms": 9,
    "token_stats": 11,
    "tool_call_episode": 10,
    "top_orders_recent": 11,
    "top_parts_by_region": 10,
    "top_supplier_revenue": 10,
    "train_test_split_counts": 9,
    "ts_daily_resample": 11,
    "ts_forecast_metrics": 12,
    "ts_interpolated": 11,
    "ts_last_valid_window": 12,
    "ts_longest_run": 11,
    "ts_ratio_split": 12,
    "ts_seasonal_features": 11,
    "ts_sliding_windows": 12,
    "tumbling_hourly_counts": 12,
    "union_all_counts": 10,
    "union_then_global_topn": 12,
    "upsert_orders": 12,
    "user_context_star": 12,
    "user_rapid_repeat_events": 9,
    "variant_extract_stats": 9,
    "vector_search_sql": 11,
    "watermark_late_drop": 12,
    "web_curation_pipeline": 11,
    "weighted_recommend_score": 12,
    "weighted_sample_docs": 9,
    "winnow_fingerprint_stats": 9,
    "winnow_near_dup": 9,
    "zorder_skipping": 9,
}

# Stale greens to refresh FIRST, in this order — the 12-query events family
# (VERDICT r04 Missing #1; dedup_min_event already r04-green) then the
# CRUD/JSON user-facing surfaces (VERDICT r04 directive #6).
_PRIORITY_REFRESH = (
    "sessionize_events", "tumbling_hourly_counts", "sliding_window_counts",
    "watermark_late_drop", "session_window_native", "asof_join_events_orders",
    "next_order_asof_forward", "events_burst_60s", "user_rapid_repeat_events",
    "funnel_conversion", "cohort_retention",
    "grocery_best_store", "upsert_orders", "delete_keys_orders",
    "paginated_orders",
)

# oracle=None queries already run by the driver with spark_rows > 0,
# mapped to the ROUND most recently exercised (VERDICT r12 directive #1):
# they previously sat in their own tier AHEAD of fresh greens, so all 8
# occupied the head of every 50-slot sweep and every CORRECTNESS file
# read as "8 broken queries" (permanent err: no_oracle rows) while
# starving the green-refresh rotation to 42/round. They now interleave
# INTO tier 5 by exercise recency — exactly like a green's evidence age —
# so a freshly-exercised rows-only query yields its sweep slot to older
# greens and re-rotates through the tail every ~3 rounds.
_ROWS_ONLY_LAST_EXERCISED = {
    "ann_ivf_top10": 12,
    "ann_ivf_trained_top10": 12,
    "ann_lsh_top10": 12,
    "ann_pq_trained_top10": 12,
    "approx_sketch_stats": 12,
    "embedding_near_dup_lsh": 12,
    "fruit_prices_daily": 12,
    "quality_classifier_scores": 12,
}
# doc_embed_knn left this set in round 5; ingest_pipeline_embedded and
# chunk_documents_recursive in round 10: each gained a full SQL oracle
# (md5 feature-hash embedder is engine-reproducible; the chunker's
# single-chunk corpus-bound identity), so they queue with the
# never-hashed oracle tier until their first green row.


def _ordered_names() -> list[str]:
    def key(n: str):
        green = _LAST_GREEN.get(n)
        fresh = green is not None and green >= _DATA_GEN_ROUND
        if green is not None and not fresh and n in _PRIORITY_REFRESH:
            return (0, _PRIORITY_REFRESH.index(n))
        # ANY oracle-bearing query without a green row queues at tier 1 —
        # including one freshly promoted from rows-only (membership in
        # _ROWS_ONLY_EXERCISED must never demote a new oracle past the
        # sweep horizon).
        if green is None and REGISTRY[n].oracle is not None:
            return (1, 0)
        if green is not None and not fresh:
            return (2, green)
        if green is None and n in _ROWS_ONLY_LAST_EXERCISED:
            # rows-only-by-design queries rotate WITH the fresh greens,
            # keyed by exercise recency (VERDICT r12 #1): recently
            # exercised → tail of the rotation, never the sweep head
            return (5, _ROWS_ONLY_LAST_EXERCISED[n])
        if green is None:
            return (3, 0)
        # Fresh greens rotate oldest-evidence-first (VERDICT r06 #1):
        # once every oracle query is fresh, the budget-capped sweep prefix
        # must keep cycling through the registry by evidence AGE, not
        # insertion order — otherwise the oldest greens never re-hash.
        return (5, green)

    # sorted() is stable: registry insertion order preserved within a tier.
    return sorted(REGISTRY, key=key)


def emit_order_doc() -> dict:
    """The emit order as a JSON-able document — the content of the
    committed QUERY_EMIT_ORDER.json sidecar (VERDICT r04 directive #8:
    each round's CORRECTNESS file self-describes its coverage gap; the
    driver sweeps a budget-capped prefix of this list)."""
    rows = [
        {"pos": i, "name": n, "last_green_round": _LAST_GREEN.get(n),
         "stale": _LAST_GREEN.get(n) is not None
         and _LAST_GREEN[n] < _DATA_GEN_ROUND,
         **({"rows_only_last_exercised": _ROWS_ONLY_LAST_EXERCISED[n]}
            if n in _ROWS_ONLY_LAST_EXERCISED and _LAST_GREEN.get(n) is None
            else {})}
        for i, n in enumerate(_ordered_names())
    ]
    fresh_rounds = [r["last_green_round"] for r in rows
                    if r["last_green_round"] is not None and not r["stale"]]
    return {"data_gen_round": _DATA_GEN_ROUND,
            "n_stale_green": sum(1 for r in rows if r["stale"]),
            # Rotation health (VERDICT r09 #7): the oldest evidence round
            # among fresh greens. With 158 queries and ~50-slot sweeps a
            # full rotation takes 3+ rounds; this field lets the judge see
            # at a glance how far behind the tail of the rotation is.
            "oldest_green_round": min(fresh_rounds) if fresh_rounds else None,
            "n_green_by_round": {
                str(k): sum(1 for r in fresh_rounds if r == k)
                for k in sorted(set(fresh_rounds))
            },
            "order": rows}


def write_emit_order() -> str:
    """Regenerate the committed sidecar. Deliberately NOT called from
    queries(): a plain accessor must not mutate the repo (ADVICE r05 #3);
    tests/test_registry_order.py pins committed content == computed order
    instead, so divergence is a test failure, not a silent drift."""
    import json as _json
    import os as _os

    path = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "QUERY_EMIT_ORDER.json",
    )
    # temp-file + rename: a concurrent reader must never see torn JSON
    tmp = f"{path}.{_os.getpid()}.tmp"
    with open(tmp, "w") as f:
        _json.dump(emit_order_doc(), f, indent=1)
    _os.replace(tmp, path)
    return path


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle
    }
