"""Scalar Column-expression helpers shared by the rule primitives.

All JVM-side (pyspark.sql.functions) — no per-row Python anywhere in this
package. The only Python-executed code in the engine is the Arrow pandas UDF
audio pass in operators/audio.py.
"""

from seronet_data_validator_spark.functions.tristate import (
    is_blank,
    is_na,
)
from seronet_data_validator_spark.functions.casts import (
    as_number,
    as_timestamp,
    is_number,
    is_date,
)

__all__ = [
    "is_blank",
    "is_na",
    "as_number",
    "as_timestamp",
    "is_number",
    "is_date",
]
