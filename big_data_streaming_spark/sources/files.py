"""Batch file formats beyond parquet — declared-schema readers/writers.

Format policy at scale (SURVEY.md §1.1 row-vs-columnar note):
* **parquet** — curated/analytical layer: columnar, predicate pushdown,
  page statistics. The default everywhere.
* **ORC** — same class as parquet (columnar, built into Spark); offered
  for ecosystems standardized on it.
* **json / csv** — interchange and raw-landing formats only: row-oriented,
  no pushdown beyond partition pruning, schema ALWAYS declared (inference
  is an extra full scan — reference never infers either, SURVEY §1.2).
* **avro** — the reference's raw-layer format (A17). The spark-avro
  datasource jar is preferred when present; without it (this
  environment) the spec-compliant pure-Python container-file fallback
  in ``avro_fallback.py`` takes over, so the sink WORKS either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_json(
    spark: SparkSession, path: str, schema: StructType, **options: str
) -> DataFrame:
    return spark.read.schema(schema).options(**options).json(path)


def read_csv(
    spark: SparkSession, path: str, schema: StructType, **options: str
) -> DataFrame:
    """CSV with a header line."""
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .options(**options)
        .csv(path)
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro read: spark-avro datasource when on the classpath, else the
    pure-Python container-file fallback (one task per file)."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as e:
        from big_data_streaming_spark.sources import avro_fallback

        if not avro_fallback.spark_avro_missing(e):
            raise
        return avro_fallback.read_avro(spark, path)


def write(df: DataFrame, path: str, fmt: str, **options: str) -> None:
    """Uniform overwriting writer. For avro, the spark-avro datasource is
    tried first; when the jar is absent the spec-compliant pure-Python
    fallback writes the container files instead (see avro_fallback.py —
    files are readable by the Java reference implementation)."""
    try:
        df.write.format(fmt).mode("overwrite").options(**options).save(path)
    except Exception as e:  # depends on classpath
        from big_data_streaming_spark.sources import avro_fallback

        if fmt != "avro" or not avro_fallback.spark_avro_missing(e):
            raise
        avro_fallback.write_avro(df, path)
