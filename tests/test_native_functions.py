"""Native column expressions vs the pure kernel: byte parity per row."""

import pytest
from pyspark.sql import functions as F

from redactify_spark.detect import anonymize as A
from redactify_spark.functions import native as N

TOKENS = ["ab", "abcd", "abcde", "abcdefgh", "abcdefghij", "abcdefghijk",
          "john.doe@example.com", "123-45-6789", "x", "supersecretpw",
          "1234567890123456789012345"]
TYPES = ["PERSON", "SSN", "API_KEY", "FINANCIAL", "CREDENTIAL",
         "MEDICAL_RECORD_NUMBER", "CASE_NUMBER", "ACCOUNT_NUMBER",
         "AUTHENTICATION_TOKEN", "UNKNOWN_T"]


@pytest.fixture(scope="module")
def tok_df(spark):
    rows = [(t, ty) for t in TOKENS for ty in TYPES]
    return spark.createDataFrame(rows, "tok string, ty string").cache()


def _column_parity(df, expr, pyfn):
    rows = df.select("tok", "ty", expr.alias("got")).collect()
    for r in rows:
        assert r.got == pyfn(r.tok, r.ty), (r.tok, r.ty, r.got)


def test_mask_ssn_parity(tok_df):
    _column_parity(tok_df, N.mask_ssn_expr(F.col("tok")),
                   lambda t, ty: A.mask_ssn(t))


def test_codegen_no_python(spark, tok_df):
    """The native exprs must not introduce python UDF nodes."""
    plan = tok_df.select(N.mask_ssn_expr(F.col("tok")))._jdf \
        .queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
