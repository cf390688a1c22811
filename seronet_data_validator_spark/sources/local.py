"""Arrow-backed local DataFrames for small driver-built fixtures and dims.

``spark.createDataFrame(list_of_rows)`` builds a pickled-row RDD sliced into
``defaultParallelism`` partitions: every downstream stage that re-scans the
relation launches that many tasks and round-trips each through a Python
worker to unpickle its rows. A multi-consumer DAG pays that per leaf — the
validation lifecycle's union re-scans its 80-row fixture from ~25 leaf
stages, which measured as ~3 s of a 6 s query (32 Python-side tasks per
leaf). Routing the same rows through pandas → Arrow instead yields a
JVM-side Arrow-batch scan: no Python workers on re-scan and one task per
batch. Values are unchanged — the explicit schema governs types exactly as
the pickled path did (guide §4: keep the Python boundary out of re-executed
plan leaves).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_df(spark: SparkSession, rows, schema: str | T.StructType | None = None) -> DataFrame:
    """Small local fixture/dimension rows → Arrow-backed DataFrame.

    ``rows`` is a list of tuples with ``schema``, or a pandas DataFrame
    (passed straight through to the Arrow conversion). Empty input falls
    back to the classic path (nothing to scan either way).
    """
    import pandas as pd

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    if isinstance(rows, pd.DataFrame):
        if schema is None:
            return spark.createDataFrame(rows)
        return spark.createDataFrame(rows, schema=schema)
    rows = [tuple(r) for r in rows]
    if not rows:
        return spark.createDataFrame([], schema)
    pdf = pd.DataFrame.from_records(rows, columns=[f.name for f in schema.fields])
    # pandas widens an integer column holding None to float64, which rounds
    # values past 2^53; hand Arrow the Python ints instead (None -> NULL)
    for i, f in enumerate(schema.fields):
        if isinstance(f.dataType, T.IntegralType) and pdf[f.name].dtype.kind == "f":
            pdf[f.name] = pd.Series([r[i] for r in rows], dtype=object)
    df = spark.createDataFrame(pdf, schema=schema)
    # createDataFrame slices the pandas frame into defaultParallelism Arrow
    # batches (~3 rows each here): a multi-consumer DAG then schedules that
    # many near-empty tasks per leaf re-scan. Pack small fixtures into a few
    # partitions instead (measured: the 25-leaf lifecycle query 2.6 -> 2.1 s);
    # larger frames keep their slicing.
    if len(pdf) <= 4096:
        df = df.coalesce(max(1, min(8, (len(pdf) + 63) // 64)))
    return df
