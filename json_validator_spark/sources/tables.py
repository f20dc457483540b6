"""Table sources — the S1 content-resolver analogue (``Input.java:33-36``).

The reference materializes request content to files; our source is a
table. Primary format is Iceberg (`spark.read.format("iceberg")`) when the
runtime jar is on the classpath; this sandbox has no Iceberg jar, so
``load_table`` transparently falls back to parquet paths — same DataFrame
out, and everything downstream (pushdown, pruning) is format-agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from json_validator_spark.session import jvm_cached

def iceberg_available(spark: SparkSession) -> bool:
    """Whether the Iceberg runtime is on the classpath. A failing
    ``Class.forName`` costs ~80 py4j round trips, so the answer is
    probed once per SparkContext (``session.jvm_cached``)."""

    def probe() -> bool:
        try:
            spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
                "org.apache.iceberg.spark.source.SparkTable"
            )
            return True
        except Exception:
            return False

    return jvm_cached(spark, "iceberg_available", probe)


def load_table(spark: SparkSession, name_or_path: str, sf_dir: str | None = None) -> DataFrame:
    """Load a table: Iceberg identifier if the catalog resolves it,
    otherwise ``{sf_dir}/{name}.parquet``."""
    if sf_dir is not None:
        path = os.path.join(sf_dir, f"{name_or_path}.parquet")
        return spark.read.parquet(path)
    if iceberg_available(spark):
        return spark.read.format("iceberg").load(name_or_path)
    return spark.read.parquet(name_or_path)


def write_table(df: DataFrame, path_or_ident: str, mode: str = "overwrite") -> None:
    """Violations / verdicts / metrics sink (S7 analogue,
    ``FileManager.java:100-139``): Iceberg append at scale, parquet here."""
    spark = df.sparkSession
    if iceberg_available(spark) and "/" not in path_or_ident:
        df.writeTo(path_or_ident).createOrReplace()
    else:
        df.write.mode(mode).parquet(path_or_ident)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    n_buckets: int,
    path: str,
    sort: bool = True,
) -> None:
    """Persist a table BUCKETED by ``key`` — the co-location contract
    that removes the shuffle from every later join/groupBy on that key.

    At 100 TB this is the difference between re-shuffling the fact
    table for every uniqueness/referential pass and scanning it in
    place: two tables bucketed the same way sort-merge-join with ZERO
    Exchange (asserted in ``tests/test_set_checks.py``), and a groupBy
    on the bucket key skips its exchange too. Bucket count should be
    sized so one bucket ≈ one task's worth of data (e.g. 2-4x total
    cores at the target SF). Uses the session catalog with an explicit
    ``path`` (external datasource table) — Iceberg's write-distribution
    modes subsume this when the runtime jar is present."""
    w = (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, key)
    )
    if sort:
        w = w.sortBy(key)
    w.format("parquet").saveAsTable(table_name)


def load_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    """Read a bucketed table THROUGH the catalog — reading the parquet
    path directly would silently drop the bucketing metadata (and the
    shuffle elimination with it)."""
    return spark.table(table_name)
