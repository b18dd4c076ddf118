"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, id_col: str | None = None) -> DataFrame:
    """Spread a compute-heavy scan across the cluster when the source is a
    handful of small files.

    A single small parquet file (often one row group, so byte-range
    splitting cannot divide it) scans as ONE partition, serializing any
    per-row-expensive downstream work (vector scoring, per-shingle
    hashing) onto one core. If the plan's initial partition count is
    already ≥ the session's default parallelism — always true for a real
    multi-file 100 TB table — this is a NO-OP: no shuffle is added at
    scale. Otherwise repartition (hash on ``id_col`` when given, so
    later ``groupBy(id_col)`` reuses the partitioning; round-robin
    otherwise).
    """
    from pyspark.sql import functions as F

    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    # Explicit width (not spark.sql.shuffle.partitions): the guard only
    # fires on small inputs, where a 200-way fan-out would just be task
    # overhead.
    if id_col:
        return df.repartition(target, F.col(id_col))
    return df.repartition(target)


def bounded_collect(df: DataFrame, bound: int) -> list:
    """Collect at most ``bound`` + 1 rows as ONE job. A bare
    ``limit(n).collect()`` runs executeTake's incremental partition ramp
    (1, 4, 16, ... partitions — several driver round-trips for any
    driver-small frame that never reaches its limit); ``coalesce(1)``
    chains the input partitions into a single lazily-consumed task, so
    the collect both stops reading at the bound and costs exactly one
    job. Callers check ``len(rows) > bound`` to detect an over-bound
    input. Use only where the collected side is driver-small by
    contract — the single task reads sequentially."""
    return df.coalesce(1).limit(bound + 1).collect()


def local_frame(spark, rows, schema) -> DataFrame:
    """Driver-side rows as a DataFrame — the inverse of ``bounded_collect``
    and the package's one way to bring Python rows into Spark.

    ``spark.createDataFrame(rows, schema)`` over a Python list plans a
    ``LogicalRDD`` of pickled rows: every job that scans it starts Python
    workers just to unpickle them, about a second per job on a warm
    4-core session even for ONE row, and the optimizer cannot fold it.
    Built from an Arrow table instead, Spark plans a ``LocalRelation``
    (below ``spark.sql.execution.arrow.localRelationThreshold``, 48 MB by
    default) and a JVM-side Arrow scan above it — no Python worker
    either way.

    ``rows`` are tuples or ``Row``s in ``schema`` field order; ``schema``
    is a ``StructType`` or a DDL string (``"q_id long, term string"``).
    Nulls, null array elements and an empty ``rows`` keep the schema.
    Naive ``datetime``s in top-level timestamp columns are read in the
    system time zone, as ``createDataFrame`` reads them."""
    import datetime as dt

    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    if len(cols) != len(schema.fields):
        raise ValueError(
            f"local_frame: rows have {len(cols)} fields, schema has "
            f"{len(schema.fields)}"
        )
    arrays = []
    for col, field, afield in zip(cols, schema.fields, arrow_schema):
        if isinstance(field.dataType, T.TimestampType):
            col = [v if v is None else v.astimezone(dt.timezone.utc) for v in col]
        arrays.append(pa.array(col, type=afield.type))
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=arrow_schema), schema
    )


def materialize(df: DataFrame) -> DataFrame:
    """Cut lineage and materialize a small intermediate that multiple plan
    branches will re-read (e.g. MinHash/SimHash signatures read by every
    band join).

    Cluster-safe: when a reliable checkpoint directory is configured
    (``sc.setCheckpointDir`` — always set it on a real cluster), uses
    ``checkpoint(eager=True)`` so executor loss cannot destroy the copy.
    Falls back to ``localCheckpoint`` (executor-local blocks) otherwise —
    fine on local[*] test runs, NOT durable on a multi-node cluster.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
