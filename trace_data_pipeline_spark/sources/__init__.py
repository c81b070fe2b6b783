from trace_data_pipeline_spark.sources.registry import TABLES, load_table

__all__ = ["TABLES", "load_table"]
