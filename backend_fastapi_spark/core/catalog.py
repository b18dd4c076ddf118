"""Parquet table registry — the engine's catalog.

Reference equivalents: ``SHOW TABLES`` / ``DESCRIBE`` catalog ops
(``src/services/internal_db_service.py:83-94,203-204``,
``src/services/enhanced_internal_db_service.py:133-144,446-452``) and the
``SELECT * FROM {t}`` scans (S1/S2 in SURVEY §2.1). We replace MariaDB with
columnar Parquet; Catalyst pushes projections/filters/limits into the scan,
which is what the reference hand-implements with SQL-string assembly.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

# Tables the driver materializes (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


@dataclass
class Catalog:
    """Maps logical table names to Parquet locations."""

    spark: SparkSession
    base_dir: str = DEFAULT_SF_DIR

    def path(self, name: str) -> str:
        return os.path.join(self.base_dir, f"{name}.parquet")

    def table(self, name: str) -> DataFrame:
        """Scan a table. Lazy — Catalyst prunes columns/filters at execution.
        Routed through the source layer (nanos-timestamp + UTC handling)."""
        from backend_fastapi_spark.sources.parquet import read_table

        return read_table(self.spark, self.base_dir, name)

    def list_tables(self) -> list[str]:
        """S3: catalog listing."""
        return sorted(
            n for n in TESTDATA_TABLES if os.path.exists(self.path(n))
        )

    def describe(self, name: str) -> list[tuple[str, str]]:
        """S4: DESCRIBE t → [(column, type)]."""
        return [(f.name, f.dataType.simpleString()) for f in self.table(name).schema.fields]


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Convenience: scan every available testdata table in ``sf_dir``."""
    cat = Catalog(spark, sf_dir)
    return {n: cat.table(n) for n in cat.list_tables()}
