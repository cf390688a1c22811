"""Violation / verdict data model.

Reference contract: the pandas validator accumulates an ``Error_list`` frame
with columns ``(Message_Type, CSV_Sheet_Name, Row_Index, Column_Name,
Column_Value, Error_Message)`` — /root/reference/File_Submission_Object.py:71-72
— with ``Message_Type`` in {Error, Warning, Not Validated}
(File_Submission_Object.py:285-287,572,601-604), deduplicated on
(sheet, row, column, value) (File_Submission_Object.py:255-256), and the
submission passes iff zero rows remain (Data_Validation_v1.py:191-199).

Here violations are a first-class DataFrame schema produced by the fused rule
pass; verdicts aggregate per partition. Sentinel row refs mirror the
reference's Row_Index -3 (table-level duplicate), -5 (cross-table), 0
(whole-column dependency failure) — File_Submission_Object.py:272,354 and
Validation_Rules.py:83.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

SEVERITY_ERROR = "Error"
SEVERITY_WARNING = "Warning"
SEVERITY_NOT_VALIDATED = "Not Validated"

# Sentinel row refs (string-typed; normal rows carry their natural key value).
ROW_REF_TABLE_DUP = "-3"
ROW_REF_CROSS_TABLE = "-5"
ROW_REF_WHOLE_COLUMN = "0"

VIOLATION_FIELDS = [
    ("severity", T.StringType()),
    ("table_name", T.StringType()),
    ("row_ref", T.StringType()),
    ("column_name", T.StringType()),
    ("column_value", T.StringType()),
    ("rule_id", T.StringType()),
    ("message", T.StringType()),
]

VIOLATION_SCHEMA = T.StructType(
    [T.StructField(name, dtype, True) for name, dtype in VIOLATION_FIELDS]
)


def violation_columns(
    severity: str | Column, table_name: str | Column, row_ref: str | Column,
    column_name: str | Column, column_value: str | Column, rule_id: str | Column,
    message: str | Column,
) -> list[Column]:
    """The VIOLATION_SCHEMA columns of one violation row, aliased and in
    order: the one builder of every Column-built violation family. A ``str``
    argument is a literal. ``row_ref`` and ``column_value`` are cast to
    string, and a NULL ``column_value`` reads ``'NULL'``."""
    def col(v: str | Column) -> Column:
        return v if isinstance(v, Column) else F.lit(v)

    return [
        col(severity).alias("severity"),
        col(table_name).alias("table_name"),
        col(row_ref).cast("string").alias("row_ref"),
        col(column_name).alias("column_name"),
        F.coalesce(col(column_value).cast("string"), F.lit("NULL")).alias("column_value"),
        col(rule_id).alias("rule_id"),
        col(message).alias("message"),
    ]


PARTITION_VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_key", T.StringType(), False),
        T.StructField("pass", T.BooleanType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("n_errors", T.LongType(), False),
        T.StructField("n_warnings", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), True),
    ]
)
