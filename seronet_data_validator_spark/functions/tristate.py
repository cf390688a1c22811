"""Empty-string / N/A / NULL tri-state semantics.

The reference loads with ``na_filter=False`` so missing cells are EMPTY
STRINGS, not NaN (/root/reference/File_Submission_Object.py:79-81), and every
missing-check is ``x == ''`` (File_Submission_Object.py:594-596). ``'N/A'`` is
a distinct, deliberate token: it PASSES some checks only when the rule allows
it (e.g. N/A-allowed date/number variants, File_Submission_Object.py:404,457)
and FAILS plain string checks (File_Submission_Object.py:554-560).

In Spark, columns can also be genuinely NULL (parquet), so "missing" here is
(NULL OR ''). The distinction N/A-vs-blank is preserved per rule, never
globally — see SURVEY.md §7 "Hard parts".
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def is_blank(c: Column) -> Column:
    """True when the cell is missing: NULL or ''. (reference: x == '')"""
    return c.isNull() | (c == F.lit(""))


def is_na(c: Column) -> Column:
    """True when the cell is the literal 'N/A' token (case-sensitive, as the
    reference compares — File_Submission_Object.py:374)."""
    return c == F.lit("N/A")

