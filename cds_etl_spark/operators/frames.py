"""Literal frames built in the JVM.

`spark.createDataFrame` of driver-side rows plans a Python-side scan (a
`LogicalRDD` leaf), so the first job that reads the frame starts a
Python worker. The validation reports and the empty history state are
small literal tables; building them here keeps every job that reads
them inside the JVM."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType


def literal_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A frame of literal ``rows`` typed by the DDL ``schema``:
    `inline` of one array of structs over a one-row range, so its plan
    has no Python leaf. No rows gives an empty frame of the schema."""
    struct_type = StructType.fromDDL(schema)
    structs = [
        F.struct(*[F.lit(v).alias(f.name) for v, f in zip(row, struct_type.fields)])
        for row in rows
    ]
    return spark.range(0, 1, 1, 1).select(
        F.inline(F.array(*structs).cast(ArrayType(struct_type)))
    )
