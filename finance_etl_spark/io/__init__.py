from finance_etl_spark.io.readers import TABLES, load_table, register_views  # noqa: F401
