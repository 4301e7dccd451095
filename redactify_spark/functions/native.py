"""Native column-expression port of an anonymization scalar function.

SURVEY.md §2.4 maps each rewrite strategy to a Spark primitive.  A
native expression anonymizes WITHOUT Python (whole-stage codegen).
Parity with the pure kernel (detect/anonymize.py) and the absence of a
Python UDF in the plan are asserted in tests/test_native_functions.py.
The Spark anonymization stage runs the kernel itself; query q27 in
`__spark_entry__.py` uses this expression.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def mask_ssn_expr(ssn: Column) -> Column:
    """A8: keep last 4 (:374-380)."""
    n = F.length(ssn)
    return F.when(n > 4, F.concat(F.repeat(F.lit("*"), n - 4),
                                  F.substring(ssn, -4, 4))) \
            .otherwise(F.repeat(F.lit("*"), n))
