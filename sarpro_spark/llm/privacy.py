"""Privacy guards for dataset release: k-anonymity suppression.

Complements the PII redaction pass (llm/filters.py): redaction scrubs
values INSIDE documents; this guards the release of aggregates/cohorts —
any group defined by the quasi-identifier columns with fewer than k
members is suppressed (the classic k-anonymity condition, Sweeney 2002),
so no released row can be traced to fewer than k individuals.

Scale shape: one hash aggregate over the quasi-identifier key to size the
groups, one semi-join (or window) back — no driver collection; the group
count relation is the only intermediate and it is quasi-key grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def k_anonymize(df: DataFrame, quasi_cols: list[str], k: int) -> DataFrame:
    """Rows of ``df`` whose quasi-identifier group has >= k members; groups
    below k are suppressed entirely. One aggregate + one semi-join, both
    keyed on the quasi columns (sort-merge reuses the partitioning)."""
    big = (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= k)
        .drop("_n")
    )
    return df.join(big, quasi_cols, "left_semi")


def k_anonymity_report(df: DataFrame, quasi_cols: list[str], k: int) -> DataFrame:
    """Release-audit summary at quasi-group grain: group size, released
    flag, and the suppressed row mass — the artifact a data-release review
    signs off on."""
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("group_n"))
        .select(
            *quasi_cols,
            "group_n",
            (F.col("group_n") >= k).alias("released"),
            F.when(F.col("group_n") >= k, 0).otherwise(F.col("group_n")).alias("suppressed_rows"),
        )
    )


def sql_k_anonymity_report(src_rel: str, quasi_cols: list[str], k: int) -> str:
    """DuckDB twin of :func:`k_anonymity_report`."""
    qc = ", ".join(quasi_cols)
    return f"""
SELECT {qc}, CAST(COUNT(*) AS BIGINT) AS group_n,
       COUNT(*) >= {k} AS released,
       CASE WHEN COUNT(*) >= {k} THEN 0 ELSE COUNT(*) END AS suppressed_rows
FROM {src_rel} GROUP BY {qc}
""".strip()
