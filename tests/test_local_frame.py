"""``local_frame``: driver rows enter Spark as a LocalRelation, never as a
pickled-row Python RDD."""

from __future__ import annotations

import datetime as dt
import pathlib

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from backend_fastapi_spark.operators.util import local_frame
from tests.conftest import SF_ORACLE

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "backend_fastapi_spark"


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


_NULLS = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("vec", T.ArrayType(T.DoubleType())),
        T.StructField("text", T.StringType()),
    ]
)

CASES = {
    "null_longs_and_null_elements": (
        [(1, [0.5, None, -1.25], "a"), (None, None, None), (3, [], "")],
        _NULLS,
    ),
    "korean_strings": (
        [(1, [1.0], "스파크 벡터 검색"), (2, [2.0], "한국어 질의 《S1》")],
        _NULLS,
    ),
    "row_inputs": (
        [Row(id=7, vec=[0.25], text="x"), Row(id=8, vec=None, text="y")],
        _NULLS,
    ),
    "ddl_string": (
        [(0, "vector"), (1, "stream"), (2, None)],
        "q_id long, term string",
    ),
    "empty_ddl": ([], "q_id long, q_embedding array<double>"),
    "empty_struct": ([], _NULLS),
    "int_date_timestamp": (
        [(1, dt.date(2024, 2, 29), dt.datetime(2024, 3, 1, 12, 30, 5, 123456))],
        "n int, d date, ts timestamp",
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_rows_match_create_dataframe(spark, case):
    rows, schema = CASES[case]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = _optimized(got)
    assert "LogicalRDD" not in plan
    assert "LocalRelation" in plan


def test_local_frame_plans_local_relation_without_pyspark_arrow(spark):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = local_frame(spark, [(1, "a")], "id long, s string")
        assert "LocalRelation" in _optimized(df)
        assert df.collect() == [Row(id=1, s="a")]
    finally:
        spark.conf.set(key, before)


def test_local_frame_rejects_field_count_mismatch(spark):
    with pytest.raises(ValueError, match="rows have 3 fields"):
        local_frame(spark, [(1, "a", 2)], "id long, s string")


def test_engine_plans_from_driver_rows_have_no_python_rdd(open_engine):
    eng = open_engine(SF_ORACLE)
    qvec = [float(x) for x in eng.table("embeddings").head()["embedding"]]
    plans = {
        "knn": eng.knn(qvec, k=5),
        "mmr": eng.mmr(qvec, k=3),
        "rag_text": eng.rag_text("vector stream merge query", top_k=5),
        "hybrid_search": eng.hybrid_search("vector,stream", qvec, k=5),
        "dedup_clusters": eng.dedup_clusters(),
    }
    for name, df in plans.items():
        assert "LogicalRDD" not in _optimized(df), name
    # the driver union-find path: its output IS the local relation
    from backend_fastapi_spark.operators.dedup import last_cc_stats

    assert last_cc_stats()["mode"] == "driver"
    assert "LocalRelation" in _optimized(plans["dedup_clusters"])
    assert plans["dedup_clusters"].count() > 0


def test_no_create_dataframe_outside_local_frame():
    # The pickled-row pattern must not come back: every driver-rows ->
    # DataFrame conversion in the package goes through local_frame.
    offenders = [
        f"{p.relative_to(PACKAGE)}:{i}"
        for p in sorted(PACKAGE.rglob("*.py"))
        if p.relative_to(PACKAGE).as_posix() != "operators/util.py"
        for i, line in enumerate(p.read_text(encoding="utf-8").splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert offenders == []
