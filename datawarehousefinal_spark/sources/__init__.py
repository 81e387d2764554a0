from datawarehousefinal_spark.sources.readers import (
    read_csv_typed,
    read_csv_with_repair,
)
from datawarehousefinal_spark.sources.testdata import TABLES, load_table
from datawarehousefinal_spark.sources.writers import write_csv, write_parquet

__all__ = [
    "read_csv_typed",
    "read_csv_with_repair",
    "write_parquet",
    "write_csv",
    "TABLES",
    "load_table",
]
