"""CSV seed loading (SURVEY.md §2.1 S4).

Reference behavior: reference CSVs (country codes, product categories) are
loaded into warehouse tables ahead of model builds
(reference scripts/deployment/setup_dbt_environment.py:350-394, seed config
dbt_project.yml:99-108). Spark-first restatement: a schema-declared
``spark.read.csv`` — never schema inference in production (a second pass
over the data, and type drift when a column goes all-null), and seeds are
small reference dims, so the loaded frame is broadcast-ready by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def load_csv_seed(
    spark: SparkSession, path: str, schema: StructType | str
) -> DataFrame:
    """S4: one seed CSV → typed DataFrame. Malformed rows fail the load
    (FAILFAST) — a bad seed should stop the build, not silently null-fill,
    matching the reference's load-or-raise behavior
    (setup_dbt_environment.py:388-394)."""
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("delimiter", ",")
        .option("mode", "FAILFAST")
        .csv(path)
    )


def seed_to_table(df: DataFrame, path: str) -> None:
    """Materialize a seed as a parquet table (reference loads seeds into
    Snowflake tables; here the table layer is parquet)."""
    df.write.mode("overwrite").parquet(path)
