"""Filter operators (SURVEY.md §2.2 P1-P3) with explicit NULL semantics.

The reference's pandas filters have load-bearing NA behavior; Spark 3-valued
logic differs, so every operator here pins the pandas semantics with
``coalesce`` (SURVEY.md §7 risk list: "every filter gets explicit coalesce").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def regex_filter_scoped(
    df: DataFrame,
    value_col: str,
    pattern: str,
    scope_col: str,
    scope_value: str,
) -> DataFrame:
    """P1: drop rows matching ``pattern`` in ``value_col``, but only inside the
    ``scope_col == scope_value`` partition of the data; all other rows pass.

    Reference (``clinical.py:74-95``): keep rows where NOT
    ``SAMPLE_ID.str.contains(regex, na=False)`` AND ``Dataset == scope`` OR
    ``Dataset != scope`` — case-sensitive, and ``na=False`` means a NULL id
    inside the scoped dataset is KEPT (NOT False → True). ``rlike`` on NULL
    yields NULL, so we coalesce to False to reproduce ``na=False``.

    Scale: a pure narrow filter — no shuffle; Catalyst pushes it to the scan
    when possible and prunes ``scope_col`` partitions on partitioned storage.
    """
    matches = F.coalesce(F.col(value_col).rlike(pattern), F.lit(False))
    in_scope = F.col(scope_col) == F.lit(scope_value)
    return df.filter((~matches & in_scope) | ~F.coalesce(in_scope, F.lit(False)))


def neq_filter_keep_nulls(df: DataFrame, col: str, value: str) -> DataFrame:
    """P2: ``col != value`` with pandas semantics (NULL rows are KEPT).

    Reference drops ``Chromosome == "chrM"`` (``maf.py:181-195``); pandas
    ``!=`` evaluates NaN != "chrM" as True, while Spark ``!=`` yields NULL and
    drops the row — so the faithful predicate is ``col != v OR col IS NULL``.
    """
    c = F.col(col)
    return df.filter((c != F.lit(value)) | c.isNull())
