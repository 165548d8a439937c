"""Streaming sources: a file-stream of request rows (the Iceberg-stream
stand-in available in this sandbox) plus the explicit schema it needs.

At production scale this is `spark.readStream.format("iceberg")` with
`maxFilesPerTrigger`/`maxOffsetsPerTrigger` as the admission backpressure
(the semaphore analog, reference: service.rs:284-289); everything
downstream is source-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

REQUEST_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("source", StringType()),
        StructField("n_tok", IntegerType()),
        StructField("tokens", ArrayType(IntegerType())),
        StructField("ts", TimestampType()),
        StructField("ops", StringType()),
        StructField("sig", StringType()),
        StructField("orientation", IntegerType()),
        StructField("src_dtype", StringType()),
    ]
)


def read_request_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = (
        spark.readStream.schema(REQUEST_SCHEMA)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)
