from csv_query_engine_spark.io.readers import TABLE_NAMES, load_tables, read_csv
from csv_query_engine_spark.io.writers import write_csv, write_parquet

__all__ = [
    "TABLE_NAMES",
    "load_tables",
    "read_csv",
    "write_csv",
    "write_parquet",
]
