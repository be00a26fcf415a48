"""Schema/uniqueness profiling (SURVEY.md §2.6 A8, §2.2 P8).

Replaces the reference's PK auto-detection
(``backend/analysis/mapping.py:5-25``: per-column ``is_unique`` probes,
fallback to top-2 by ``nunique``) with a single aggregation pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_reconciliation_spark.session import driver_table


def uniqueness_profile(df: DataFrame, approx: bool = False) -> DataFrame:
    """One row per column: distinct count, row count, is_unique flag.

    One job, one shuffle (partial aggregation map-side).  ``approx=True``
    switches to HyperLogLog ``approx_count_distinct`` for 100TB-scale
    profiling (exact distinct on every column of a wide table would
    shuffle every value).
    """
    cnt = F.count(F.lit(1))
    distinct = (
        (lambda c: F.approx_count_distinct(c)) if approx else (lambda c: F.countDistinct(c))
    )
    row = df.agg(
        cnt.alias("__n"),
        *[distinct(c).alias(f"__d_{i}") for i, c in enumerate(df.columns)],
    ).collect()[0]
    n = row["__n"]
    data = [
        (c, int(row[f"__d_{i}"]), int(n), bool(n > 0 and row[f"__d_{i}"] == n))
        for i, c in enumerate(df.columns)
    ]
    return driver_table(
        df.sparkSession,
        data,
        "column string, distinct_count long, row_count long, is_unique boolean",
    )


def detect_primary_key(
    df_old: DataFrame, df_new: DataFrame, approx: bool = False
) -> list[str]:
    """Reference mapping.py:5-25 semantics: first column unique on BOTH
    sides wins; otherwise the top-2 columns by combined distinct count."""
    common = [c for c in df_old.columns if c in set(df_new.columns)]
    po = {r["column"]: r for r in uniqueness_profile(df_old.select(common), approx).collect()}
    pn = {r["column"]: r for r in uniqueness_profile(df_new.select(common), approx).collect()}
    for c in common:
        if po[c]["is_unique"] and pn[c]["is_unique"]:
            return [c]
    scored = sorted(
        common,
        key=lambda c: (po[c]["distinct_count"] + pn[c]["distinct_count"]),
        reverse=True,
    )
    return scored[:2]
