"""The one-scan ``validate()`` against the two-pass form it replaced
(a global null-count aggregate plus a separate duplicate profile)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

_SCHEMA = "k int, a string, b double"


def _two_pass(df) -> tuple[int, int, dict[str, int]]:
    nulls = df.agg(
        F.count(F.lit(1)).alias("total_rows"),
        *[F.coalesce(F.sum(F.col(c).isNull().cast("int")), F.lit(0)).alias(c) for c in df.columns],
    ).collect()[0]
    dups = (
        df.groupBy(*df.columns)
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .agg(F.sum("multiplicity").alias("total_rows"), F.count(F.lit(1)).alias("distinct_rows"))
        .collect()[0]
    )
    return dups["total_rows"] or 0, dups["distinct_rows"] or 0, {c: nulls[c] for c in df.columns}


@pytest.mark.parametrize(
    "rows",
    [
        # b is all-null; duplicated rows carry nulls in a and b
        [(1, None, None), (1, None, None), (2, "x", None), (2, "x", None), (2, "x", None), (3, "y", None)],
        # nulls in every column, one duplicated all-null row
        [(None, None, None), (None, None, None), (4, None, 1.5), (5, "z", None)],
        [],
    ],
    ids=["all_null_column", "all_null_rows", "empty"],
)
def test_one_scan_validation_matches_two_pass_form(spark, rows):
    from data_lake_construction_and_querying_with_pyspark_spark.operators.validation import validate

    df = spark.createDataFrame(rows, _SCHEMA)
    rep = validate(df)
    total, distinct, nulls = _two_pass(df)
    assert (rep.total_rows, rep.distinct_rows, rep.null_counts) == (total, distinct, nulls)
    assert rep.duplicate_rows == total - distinct
    assert rep.total_rows == len(rows)
