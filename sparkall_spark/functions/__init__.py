from sparkall_spark.functions.transforms import transform_chain_sql, transform_sql

__all__ = ["transform_chain_sql", "transform_sql"]
