"""Schema contracts (C21 column_validation).

The reference diffs CSV headers against Excel templates by set difference
and GATES the whole submission on any column error
(/root/reference/File_Submission_Object.py:140-168,
Data_Validation_v1.py:160-170). Spark-native: the contract is a declared
StructType diffed against ``df.schema`` — a driver-side metadata operation,
no job. Extra columns are tolerated (warning), missing or type-mismatched
contract columns are gating errors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from seronet_data_validator_spark.model import (
    ROW_REF_WHOLE_COLUMN,
    SEVERITY_ERROR,
    SEVERITY_WARNING,
    VIOLATION_SCHEMA,
)
from seronet_data_validator_spark.sources.clips import CLIPS_SCHEMA
from seronet_data_validator_spark.sources.local import local_df

CONTRACTS: dict[str, T.StructType] = {"clips": CLIPS_SCHEMA}


_UNIT_SUFFIXES = (" (cells/mL)", " (mL)", " (Years)", " (Days)", " (min)", " (hrs)", "°C")


def normalize_header(name: str) -> str:
    """F4/header normalization (reference clean_up_column_names,
    File_Submission_Object.py:9-19): strip unit suffixes, keep numeric '-80'
    freezer names intact, then map '-' → '_' so headers are valid
    identifiers."""
    for suf in _UNIT_SUFFIXES:
        name = name.replace(suf, "")
    return name.replace("-80", "80").replace("-", "_")


def normalize_headers(df: DataFrame) -> DataFrame:
    """Apply normalize_header to every column (driver-side metadata op —
    `withColumnsRenamed` touches no data). Collisions keep the FIRST column
    (matching pandas rename semantics in the reference)."""
    seen: set[str] = set()
    mapping: dict[str, str] = {}
    for c in df.columns:
        n = normalize_header(c)
        if n != c and n not in seen and n not in df.columns:
            mapping[c] = n
        seen.add(n)
    return df.withColumnsRenamed(mapping) if mapping else df


def drop_blank_rows(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """P6 blank-row cleanup (reference cleanup_table,
    File_Submission_Object.py:125-138): drop rows where EVERY checked column
    is NULL or '' (the reference's dropna(all) + all-cells-equal-first junk
    filter, in tri-state semantics). Pure filter — fuses into the scan."""
    from pyspark.sql import functions as F

    cols = columns or [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    if not cols:
        return df
    any_content = None
    for c in cols:
        has = F.col(c).isNotNull() & (F.col(c).cast("string") != "")
        any_content = has if any_content is None else (any_content | has)
    return df.where(any_content)


def schema_contract_violations(
    spark: SparkSession,
    df: DataFrame,
    table_name: str,
) -> DataFrame | None:
    """None when ``table_name``'s contract (:data:`CONTRACTS`) holds, or it
    has none; otherwise a violations DataFrame whose presence gates data
    validation (mirroring the reference's column gate)."""
    contract = CONTRACTS.get(table_name)
    if contract is None:
        return None
    actual = {f.name: f.dataType for f in df.schema.fields}
    rows = []
    for f in contract.fields:
        if f.name not in actual:
            rows.append(
                (SEVERITY_ERROR, table_name, ROW_REF_WHOLE_COLUMN, f.name, "",
                 "C21.schema", "This column is expected and is missing from the table")
            )
        elif actual[f.name] != f.dataType:
            rows.append(
                (SEVERITY_ERROR, table_name, ROW_REF_WHOLE_COLUMN, f.name,
                 str(actual[f.name]), "C21.schema",
                 f"Column type {actual[f.name].simpleString()} does not match "
                 f"contract type {f.dataType.simpleString()}")
            )
    for name in actual:
        if name not in {f.name for f in contract.fields}:
            rows.append(
                (SEVERITY_WARNING, table_name, ROW_REF_WHOLE_COLUMN, name, "",
                 "C21.schema", "Column found in table is not expected by the contract")
            )
    errors = [r for r in rows if r[0] == SEVERITY_ERROR]
    if not errors:
        return None
    return local_df(spark, rows, VIOLATION_SCHEMA)
