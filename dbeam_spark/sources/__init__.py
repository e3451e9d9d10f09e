from dbeam_spark.sources.files import TABLES, load_table

__all__ = ["TABLES", "load_table"]
