"""Lake-maintenance operators: compaction + clustering + data skipping.

Evidence class: test-only (maintenance ops have no query semantics to
oracle); the data-skipping proof reads parquet footers directly, the
same stats a Spark scan's row-group filter consults.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from backend_fastapi_spark.operators import maintenance as M
from tests.conftest import SF_SMOKE


def test_compact_reduces_file_count_preserving_rows(spark, tmp_path):
    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compacted")
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    docs.repartition(64).write.parquet(src)
    assert M.file_stats(spark, src)["n_files"] == 64
    # Target sized to land ~4 files for this tiny table.
    target = max(1, M.file_stats(spark, src)["total_bytes"] // 4)
    report = M.compact(spark, src, dst, target_bytes=target)
    assert report["before"]["n_files"] == 64
    assert 1 <= report["after"]["n_files"] <= 6
    assert report["after"]["n_files"] == report["n_out"]
    assert spark.read.parquet(dst).count() == docs.count()
    # src untouched (write-then-swap is the caller's transaction)
    assert M.file_stats(spark, src)["n_files"] == 64


def test_cluster_write_enables_row_group_skipping(spark, tmp_path):
    """A narrow range predicate on the sort key must overlap (almost)
    only its own slice of a clustered layout, but every file of a
    hash-scattered layout."""
    scattered = str(tmp_path / "scattered")
    clustered = str(tmp_path / "clustered")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    n_files = 8
    # Scattered: round-robin, every file holds the full key range.
    orders.repartition(n_files).write.parquet(scattered)
    M.cluster_write(orders, clustered, ["o_orderkey"], n_files)
    lo, hi = 1, 100  # ~bottom slice of o_orderkey
    bad = M.skipping_report(scattered, "o_orderkey", lo, hi)
    good = M.skipping_report(clustered, "o_orderkey", lo, hi)
    assert bad["overlap_fraction"] == 1.0
    assert good["overlapping"] <= 2  # the slice's file (+1 boundary)
    assert good["overlap_fraction"] < bad["overlap_fraction"]
    # Same data either way.
    a = spark.read.parquet(clustered).count()
    assert a == orders.count()


def test_clustered_scan_results_unchanged(spark, tmp_path):
    """Clustering is layout-only: filters return identical rows."""
    clustered = str(tmp_path / "clustered2")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    M.cluster_write(orders, clustered, ["o_custkey"], 4)
    want = sorted(
        r.o_orderkey
        for r in orders.filter("o_custkey BETWEEN 10 AND 20").collect()
    )
    got = sorted(
        r.o_orderkey
        for r in spark.read.parquet(clustered)
        .filter("o_custkey BETWEEN 10 AND 20")
        .collect()
    )
    assert got == want


def test_engine_facade_compact_and_cluster(tmp_path, open_engine):
    eng = open_engine(SF_SMOKE)
    src = str(tmp_path / "frag2")
    eng.table("documents").repartition(16).write.parquet(src)
    rep = eng.compact_table(src, str(tmp_path / "out"),
                            target_bytes=10**9)
    assert rep["after"]["n_files"] == 1
    stats = eng.cluster_table(
        eng.table("orders"), str(tmp_path / "clus"), ["o_orderdate"], 4
    )
    assert stats["n_files"] == 4
    zstats = eng.zorder_table(
        eng.table("orders"), str(tmp_path / "zo"),
        ["o_custkey", "o_orderkey"], 4,
    )
    assert zstats["n_files"] == 4


def test_compact_refuses_overlapping_paths(spark, tmp_path):
    import pytest

    src = str(tmp_path / "t")
    spark.range(10).write.parquet(src)
    for dst in (
        src,                          # identical
        f"{src}/compacted",           # nested inside src
        f"file://{src}",              # scheme+authority alias of src
        str(tmp_path),                # src nested inside dst
    ):
        with pytest.raises(ValueError, match="must not overlap"):
            M.compact(spark, src, dst)
    with pytest.raises(ValueError, match="target_bytes"):
        M.compact(spark, src, str(tmp_path / "out"), target_bytes=0)
    with pytest.raises(ValueError, match="no parquet files"):
        M.compact(spark, str(tmp_path / "empty_nothere"), str(tmp_path / "o2"))


def test_skipping_report_partitioned_layout_and_errors(spark, tmp_path):
    import pytest

    part = str(tmp_path / "part")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    orders.write.partitionBy("o_orderstatus").parquet(part)
    rep = M.skipping_report(part, "o_orderkey", 1, 100)
    assert rep["row_groups"] > 0  # recursive walk sees key=value subdirs
    with pytest.raises(ValueError, match="no parquet files"):
        M.skipping_report(str(tmp_path / "nope"), "x", 0, 1)
    with pytest.raises(ValueError, match="local OS"):
        M.skipping_report("s3a://bucket/table", "x", 0, 1)


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Co-located big-to-big equi-join: orders and a per-customer
    aggregate both bucketed on the key join WITHOUT any Exchange in the
    plan — the write-once-shuffle-never pattern that turns a repeated
    100 TB fact-to-fact join from two shuffles per query into zero.
    The same join over the plain parquet copies must show Exchanges, so
    the assertion can't pass vacuously."""
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    try:
        M.write_bucketed(orders, "b_orders", ["o_custkey"], 8)
        M.write_bucketed(cust, "b_customer", ["c_custkey"], 8)
        # merge hint: at test size the planner would broadcast (which
        # ignores bucketing); the 100 TB case is two UNbroadcastable
        # sides, i.e. sort-merge — exactly what the hint forces.
        bj = spark.table("b_orders").hint("merge").join(
            spark.table("b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = bj._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        pj = orders.hint("merge").join(
            cust, F.col("o_custkey") == F.col("c_custkey")
        )
        plain = pj._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plain
        # same rows either way
        assert bj.count() == orders.join(
            cust, F.col("o_custkey") == F.col("c_custkey")
        ).count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_zorder_write_skips_on_both_columns(spark, tmp_path):
    """zorder_write: rows survive value-exact, the layout keeps footer
    envelopes selective on BOTH interleaved columns (the single-column
    clustered layout reads every row group for the second column), and
    only 2-column calls are accepted."""
    import pytest

    from backend_fastapi_spark.operators import maintenance as M

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    clustered = str(tmp_path / "clustered")
    zordered = str(tmp_path / "zorder")
    M.cluster_write(orders, clustered, ["o_custkey"], 8)
    M.zorder_write(orders, zordered, ["o_custkey", "o_orderkey"], 8)

    # value preservation: same multiset of keys
    a = sorted(r["o_orderkey"] for r in spark.read.parquet(zordered).collect())
    b = sorted(r["o_orderkey"] for r in orders.collect())
    assert a == b

    # ~10% boxes on each dimension
    hi_c = orders.agg(F.max("o_custkey")).head()[0] // 10
    hi_o = orders.agg(F.max("o_orderkey")).head()[0] // 10
    zc = M.skipping_report(zordered, "o_custkey", 1, hi_c)
    zo = M.skipping_report(zordered, "o_orderkey", 1, hi_o)
    cc = M.skipping_report(clustered, "o_custkey", 1, hi_c)
    co = M.skipping_report(clustered, "o_orderkey", 1, hi_o)
    assert cc["overlap_fraction"] <= 0.25     # 1-col layout: perfect on own col
    assert co["overlap_fraction"] == 1.0      # ... and useless on the other
    assert zc["overlap_fraction"] <= 0.5      # z-order: selective on BOTH
    assert zo["overlap_fraction"] <= 0.75
    assert zo["overlap_fraction"] < co["overlap_fraction"]

    with pytest.raises(ValueError, match="exactly 2"):
        M.zorder_write(orders, str(tmp_path / "bad"), ["o_custkey"], 8)


def test_zorder_write_empty_input(spark, tmp_path):
    """Empty input writes an empty layout (cluster_write parity) instead
    of TypeError-ing on None min/max."""
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").filter(
        F.col("o_orderkey") < 0
    )
    dst = str(tmp_path / "empty_zo")
    M.zorder_write(orders, dst, ["o_custkey", "o_orderkey"], 2)
    assert spark.read.parquet(dst).count() == 0
