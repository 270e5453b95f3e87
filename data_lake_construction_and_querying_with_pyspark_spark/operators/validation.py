"""Validation metrics — single-pass version of the reference's A1-A4.

The reference computes total rows, duplicate count, and per-column null
counts as FIVE separate actions over the source (reference
``scripts/aws-hackathon-glue-data-lake-querying-pyspark.py:86-98`` —
SURVEY.md §2.8.5 flags the double-computation). At 100 TB each action is
a full table scan, and ``df.count() - df.distinct().count()`` is two
scans plus an all-columns shuffle.

This module computes the same metrics in ONE aggregation pass over one
scan: a ``groupBy(all columns)`` multiplicity table (the single shuffle
that ``distinct`` needs anyway, with map-side partial counts), then one
global aggregate over it:

* total rows → ``sum(multiplicity)``; distinct rows → ``count(*)``.
* per-column null counts → ``sum(multiplicity)`` over the groups whose
  key is NULL in that column (NULL keys group together, so every null
  row is counted exactly once).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class ValidationReport:
    total_rows: int
    distinct_rows: int
    null_counts: dict[str, int]
    columns: list[str] = field(default_factory=list)

    @property
    def duplicate_rows(self) -> int:
        # Reference semantics: df.count() - df.distinct().count()
        # (scripts/...pyspark.py:90-91).
        return self.total_rows - self.distinct_rows

    @property
    def column_count(self) -> int:
        return len(self.columns)


def validation_summary_df(df: DataFrame) -> DataFrame:
    """The one-row validation summary as a DataFrame (lazy, one scan):
    ``total_rows``, ``distinct_rows`` and one ``null_<col>`` per column
    (reference A1-A3, ``scripts/...pyspark.py:90-93``)."""
    per_row = df.groupBy(*df.columns).agg(F.count(F.lit(1)).alias("multiplicity"))
    # coalesce: SUM over zero rows is NULL, and an empty input must
    # report 0 rows and 0 nulls, not None (hypothesis-found edge case).
    return per_row.agg(
        F.coalesce(F.sum("multiplicity"), F.lit(0)).alias("total_rows"),
        F.count(F.lit(1)).alias("distinct_rows"),
        *[
            F.coalesce(F.sum(F.when(F.col(c).isNull(), F.col("multiplicity"))), F.lit(0)).alias(f"null_{c}")
            for c in df.columns
        ],
    )


def validate(df: DataFrame) -> ValidationReport:
    """Compute the reference's validation metrics in one scan (vs the
    reference's five)."""
    row = validation_summary_df(df).collect()[0]
    return ValidationReport(
        total_rows=row["total_rows"],
        distinct_rows=row["distinct_rows"],
        null_counts={c: row[f"null_{c}"] for c in df.columns},
        columns=list(df.columns),
    )


def attach_observed_metrics(df: DataFrame, name: str = "validation"):
    """Piggyback validation metrics on the NEXT action over ``df`` via
    ``df.observe`` — zero extra jobs, zero extra scans. The returned
    ``Observation`` yields metrics after any action (typically the lake
    write) executes: exact row count, exact per-column null counts
    (``nulls__<col>`` keys), and an HLL approximate distinct-row count.

    This is the 100 TB validation path: where ``validate()`` runs its
    own aggregation pass (still one scan), this rides the write's scan
    for free. Exact duplicate counting is the one metric that cannot
    ride along (it needs a shuffle of its own); the sketch stands in,
    and ``validation_summary_df`` remains the exact tool.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("total_rows"),
        F.approx_count_distinct(F.struct(*df.columns)).alias("approx_distinct_rows"),
        *[F.sum(F.col(c).isNull().cast("long")).alias(f"nulls__{c}") for c in df.columns],
    )
    return observed, obs
