from spark_lakehouse_medallion_pipeline_spark.sources.io import (  # noqa: F401
    read_parquet,
    read_table,
    write_partitioned_parquet,
    write_parquet,
    write_table,
)
