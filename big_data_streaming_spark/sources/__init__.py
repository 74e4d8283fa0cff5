from big_data_streaming_spark.sources.catalog import load_table

__all__ = ["load_table"]
