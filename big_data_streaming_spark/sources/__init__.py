from big_data_streaming_spark.sources.catalog import load_table, local_rows

__all__ = ["load_table", "local_rows"]
