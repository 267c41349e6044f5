"""Table diff / reconciliation: the sync-validation operator.

The reference's whole purpose is keeping two warehouses in sync
(pull → format → push); ``table_diff`` is how you PROVE they are —
one full-outer key join classifying every row as added / removed /
changed, with the exact set of changed columns per row; unchanged
keys are dropped.
Run it after a migration, a backfill, or an upsert batch to get a
set-based reconciliation report instead of sampling.

Scale shape: ONE shuffle (the full-outer join on the key); the
column-comparison is a pure projection (null-safe equality per
compared column, collected into an array of changed names via a
``filter`` over a literal name array — no UDFs). At 100 TB diff
day-partition by day-partition and union the reports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: status values; ``unchanged`` rows are classified, then dropped
ADDED, REMOVED, CHANGED, UNCHANGED = "added", "removed", "changed", "unchanged"


def table_diff(
    a: DataFrame,
    b: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Classify every key of ``a`` (old) vs ``b`` (new):

    - ``added``    — key only in ``b``
    - ``removed``  — key only in ``a``
    - ``changed``  — key in both, at least one compared column differs
      (null-safe: NULL→value and value→NULL both count as changes)

    Keys in both whose compared columns are all equal are not emitted:
    at scale the unchanged mass is the bulk of the join.

    Output: ``key_cols..., status, changed_cols array<string>``
    (changed_cols in ``compare_cols`` order; empty for added/removed
    rows).
    """
    if compare_cols is None:  # explicit [] = key-presence-only diff
        compare_cols = [
            c
            for c in a.columns
            if c in set(b.columns) and c not in set(key_cols)
        ]
    la = a.select(
        *[F.col(k) for k in key_cols],
        F.lit(True).alias("__in_a"),
        *[F.col(c).alias(f"__a_{c}") for c in compare_cols],
    )
    lb = b.select(
        *[F.col(k) for k in key_cols],
        F.lit(True).alias("__in_b"),
        *[F.col(c).alias(f"__b_{c}") for c in compare_cols],
    )
    j = la.join(lb, key_cols, "full_outer")

    if compare_cols:
        diff_flags = F.array(
            *[
                F.struct(
                    F.lit(c).alias("name"),
                    (~F.col(f"__a_{c}").eqNullSafe(F.col(f"__b_{c}"))).alias(
                        "diff"
                    ),
                )
                for c in compare_cols
            ]
        )
        changed_cols = F.transform(
            F.filter(diff_flags, lambda s: s.getField("diff")),
            lambda s: s.getField("name"),
        )
    else:  # presence-only: both-present keys are 'unchanged' by definition
        changed_cols = F.array().cast("array<string>")
    status = (
        F.when(F.col("__in_a").isNull(), F.lit(ADDED))
        .when(F.col("__in_b").isNull(), F.lit(REMOVED))
        .when(F.size(changed_cols) > 0, F.lit(CHANGED))
        .otherwise(F.lit(UNCHANGED))
    )
    out = j.select(
        *key_cols,
        status.alias("status"),
        F.when(
            F.col("__in_a").isNotNull() & F.col("__in_b").isNotNull(),
            changed_cols,
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("changed_cols"),
    )
    return out.where(F.col("status") != UNCHANGED)
