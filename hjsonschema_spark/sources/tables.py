"""Table IO: Iceberg when the runtime has it, Parquet otherwise.

The engine's north-rule storage target is Iceberg (snapshot pinning,
manifest-level partition pruning, append commits). This sandbox has no
Iceberg runtime jar, so every writer/reader here takes the Iceberg path
when ``iceberg_available(spark)`` and otherwise degrades to Parquet
directories with the same call shape — engine code is storage-agnostic
either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hjsonschema_spark.session import iceberg_available


def read_table(
    spark: SparkSession,
    name_or_path: str,
    snapshot_id: int | None = None,
    as_of: str | None = None,
) -> DataFrame:
    """Read a table; with Iceberg, supports snapshot pinning
    (VERSION AS OF / TIMESTAMP AS OF) for reproducible validation runs."""
    if iceberg_available(spark) and "/" not in name_or_path:
        r = spark.read
        if snapshot_id is not None:
            r = r.option("snapshot-id", str(snapshot_id))
        if as_of is not None:
            r = r.option("as-of-timestamp", as_of)
        return r.format("iceberg").load(name_or_path)
    return spark.read.parquet(name_or_path)


def overwrite_table(df: DataFrame, name_or_path: str) -> None:
    if iceberg_available(df.sparkSession) and "/" not in name_or_path:
        df.writeTo(name_or_path).createOrReplace()
    else:
        df.write.mode("overwrite").parquet(name_or_path)
