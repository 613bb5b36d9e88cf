from planning_center_data_pipeline_spark.sources.tables import TABLES, load_table

__all__ = ["TABLES", "load_table"]
