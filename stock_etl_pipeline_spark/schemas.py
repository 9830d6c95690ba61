"""Canonical schemas for the three pipeline stages.

The reference declares the one logical table three times — pandera raw /
transformed schemas (reference dags/utils/validators.py:15-25,32-42,49-61) and
the warehouse DDL (reference plugins/helpers/queries.py:3-15). Here each stage
is a single explicit StructType; readers must pass these (never infer) per
SURVEY.md §1.4.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Raw stage: per-source extract output (reference dags/utils/validators.py:15-25).
# Dates/timestamps travel as native types, not strings — formatting happens at
# the sink only (SURVEY.md §1.3).
RAW_SCHEMA = T.StructType(
    [
        T.StructField("date", T.DateType(), nullable=False),
        T.StructField("symbol", T.StringType(), nullable=False),
        T.StructField("open", T.DoubleType(), nullable=True),
        T.StructField("high", T.DoubleType(), nullable=True),
        T.StructField("low", T.DoubleType(), nullable=True),
        T.StructField("close", T.DoubleType(), nullable=False),
        T.StructField("volume", T.LongType(), nullable=True),
        T.StructField("data_source", T.StringType(), nullable=False),
        T.StructField("extracted_at", T.TimestampType(), nullable=False),
    ]
)

# Transformed stage: raw − extracted_at + processed_at & derived metrics
# (reference dags/utils/validators.py:49-61, dags/utils/transformers.py:58-65).
TRANSFORMED_SCHEMA = T.StructType(
    [
        T.StructField("date", T.DateType(), nullable=False),
        T.StructField("symbol", T.StringType(), nullable=False),
        T.StructField("open", T.DoubleType(), nullable=True),
        T.StructField("high", T.DoubleType(), nullable=True),
        T.StructField("low", T.DoubleType(), nullable=True),
        T.StructField("close", T.DoubleType(), nullable=False),
        T.StructField("volume", T.LongType(), nullable=False),  # null→0 coerced
        T.StructField("data_source", T.StringType(), nullable=False),
        T.StructField("processed_at", T.TimestampType(), nullable=False),
        T.StructField("daily_change_pct", T.DoubleType(), nullable=True),
        T.StructField("daily_volatility", T.DoubleType(), nullable=True),
    ]
)

# Warehouse stage: full 11-column canonical schema (reference
# plugins/helpers/queries.py:3-15; SURVEY.md §1.2 resolves the reference's
# load-schema inconsistency in favor of this one).
WAREHOUSE_SCHEMA = TRANSFORMED_SCHEMA

_TYPE_ALIASES: dict[str, T.DataType] = {
    "string": T.StringType(),
    "str": T.StringType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
    "float64": T.DoubleType(),
    "double": T.DoubleType(),
    "float": T.DoubleType(),
    "int64": T.LongType(),
    "long": T.LongType(),
    "integer": T.IntegerType(),
    "int": T.IntegerType(),
    "boolean": T.BooleanType(),
    "bool": T.BooleanType(),
    "binary": T.BinaryType(),
}


def frame_from_rows(spark, rows, schema: T.StructType):
    """Driver-side rows (tuples or Rows, in ``schema``'s field order) → a
    DataFrame holding the same values ``spark.createDataFrame(rows,
    schema)`` stores, built through Arrow so the JVM decodes the batch.

    The list path of ``createDataFrame`` parallelizes pickled rows and
    reserializes them with an identity ``map`` (pyspark ``RDD._reserialize``),
    so its lineage carries a ``PythonRDD`` and every evaluation runs each
    partition through a Python worker. An Arrow table's lineage is
    JVM-only. Each value goes through its field's ``toInternal`` first, so
    dates become epoch days and timestamps epoch µs exactly as the list
    path stores them (a naive ``datetime`` read in the process's local
    time); ``to_arrow_type`` types them ``date32`` and
    ``timestamp[us, UTC]``, which Spark takes as those instants with no
    session-zone shift. A NULL in a non-nullable field raises
    ``ValueError`` (Arrow's cast to the schema) before any Spark job.
    Flat schemas only.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    cols = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [
            pa.array([f.toInternal(v) for v in col], type=to_arrow_type(f.dataType))
            for f, col in zip(schema.fields, cols)
        ],
        names=schema.names,
    )
    return spark.createDataFrame(table, schema)


def build_schema(columns_config: dict[str, dict]) -> T.StructType:
    """dict config → StructType, the Spark twin of the reference's
    ``create_bigquery_schema`` (reference dags/utils/loaders.py:83-104, K10).

    ``columns_config`` maps column name → {"type": str, "mode": "REQUIRED" |
    "NULLABLE", "description": str}; type names accept BigQuery-style
    (FLOAT64/INT64/STRING/DATE/TIMESTAMP) and Spark-style aliases.
    """
    fields = []
    for name, cfg in columns_config.items():
        type_name = str(cfg.get("type", "string")).lower()
        dtype = _TYPE_ALIASES.get(type_name)
        if dtype is None:
            raise ValueError(f"unsupported column type {cfg.get('type')!r} for {name!r}")
        nullable = str(cfg.get("mode", "NULLABLE")).upper() != "REQUIRED"
        metadata = {"description": cfg["description"]} if cfg.get("description") else None
        fields.append(T.StructField(name, dtype, nullable=nullable, metadata=metadata))
    return T.StructType(fields)
