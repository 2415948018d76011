"""Grouped aggregation operators the reference lacks (SURVEY §2.5
"Absent"): skew-salted two-phase count+sum and a grouped-map Pandas
transform.

The reference's per-column profiles (A1-A6: counts, distinct ratios,
min/max) are not helpers here: the flagship pipeline observes them on
the job that pins its parse (``operators.profiling.profile_aggs``), and
the registry queries ``profile_distinct_ratios``, ``profile_min_max``,
``null_counts`` and ``horizontal_predicates`` cover them as batched
single-pass aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_grouped(
    df: DataFrame,
    keys: list[str],
    sum_cols: dict[str, str],
    buckets: int = 16,
    count_alias: str = "n",
) -> DataFrame:
    """Skew-resistant grouped count+sum: phase 1 aggregates on
    (keys, random salt) so one hot key spreads over ``buckets``
    reducers; phase 2 merges the partials on the true keys.

    The merge input is |keys|×buckets rows — negligible — so the
    expensive shuffle is the salted one, which is balanced by
    construction. Sum columns must be exact types (decimal/int): the
    two-phase reassociation reorders additions, which only equals the
    single-phase result for associative exact arithmetic, not doubles.
    """
    salt = (F.rand(seed=7) * buckets).cast("int")
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(
            F.count(F.lit(1)).alias("__pn"),
            *[F.sum(c).alias(f"__ps_{a}") for c, a in sum_cols.items()],
        )
    )
    return partial.groupBy(*keys).agg(
        F.sum("__pn").alias(count_alias),
        *[F.sum(f"__ps_{a}").alias(a) for a in sum_cols.values()],
    )


def zscore_per_group(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    out_col: str = "zscore",
) -> DataFrame:
    """Per-group z-score via applyInPandas (grouped-map Pandas API):
    each group arrives as one pandas DataFrame, normalized with ddof=0.

    The JVM-window equivalent is cheaper for plain z-scores; this is
    the template for grouped transforms that need real Python (sklearn
    scalers, per-group model scoring). One shuffle on the keys, groups
    must fit executor memory — salt or pre-aggregate beyond that.
    """
    import pandas as pd

    out_fields = df.schema.fields
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in out_fields)
    schema += f", {out_col} double"

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf[value_col].astype("float64")
        std = v.std(ddof=0)
        pdf[out_col] = (v - v.mean()) / std if std > 0 else 0.0
        return pdf

    return df.groupBy(*key_cols).applyInPandas(normalize, schema)
