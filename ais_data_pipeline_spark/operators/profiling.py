"""Profiling + type-tightening pass (SURVEY §4's one genuinely custom
engine component; reference §3.2 lifecycle).

The reference alternates plan mutation with sampled execution: estimate
in-memory size from a row sample (M4), measure per-column distinct
ratios and cast low-cardinality columns to categorical at thresholds
0.10 (strings) / 0.01 (numerics) (A2/T2/T3), measure min/max and
downcast integers with out-of-range rows quarantined (A3/T4-T6/P4/K4).

Spark-first shape: the profile is a list of aggregate columns
(``profile_aggs``) that ride an ``Observation`` on a job the caller
already runs — the flagship pipeline's parse-and-pin — so profiling
costs no job of its own; the driver-side planner (``plan_tightening``)
then decides from the observed row and emits ordinary DataFrame casts
for Catalyst to execute. Zero custom optimizer rules (SURVEY §4
conclusion). At 100 TB the distinct profile uses HyperLogLog sketches
and the sample estimator reads a bounded number of rows — profiling
cost is independent of table size.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ais_data_pipeline_spark.functions.numeric import smallest_int_type
from ais_data_pipeline_spark.operators.filters import fits_int32_or_null

#: Reference thresholds (notebooks/preprocessing_with_polars.ipynb:1862,2726).
STRING_CATEGORICAL_THRESHOLD = 0.10
NUMERIC_CATEGORICAL_THRESHOLD = 0.01


def estimate_size(df: DataFrame, n_rows: int, sample_rows: int = 50_000) -> dict:
    """Sampled memory estimate (reference M4, ``estimate_size``,
    notebooks/preprocessing_with_polars.ipynb:296-356): pull k rows to
    pandas, measure deep memory per column, extrapolate to ``n_rows`` —
    a row count the caller already observed, so the sample is the only
    job this runs.

    Uses ``limit(k)`` like the reference (with its documented
    first-rows bias caveat); the Arrow path keeps the transfer cheap.
    Returns {column: est_total_bytes} plus totals.
    """
    sample = df.limit(sample_rows).toPandas()
    k = max(len(sample), 1)
    mem = sample.memory_usage(deep=True, index=False)
    per_col = {c: int(mem[c] / k * n_rows) for c in sample.columns}
    total = sum(per_col.values())
    return {
        "n_rows": n_rows,
        "sample_rows": k,
        "per_column_bytes": per_col,
        "est_total_bytes": total,
        "est_total_mib": total / (1024 * 1024),
    }


@dataclass
class TighteningPlan:
    """The decisions the pass made — inspectable before application."""

    categorical_strings: list[str] = field(default_factory=list)
    categorical_numerics: list[str] = field(default_factory=list)
    downcasts: dict[str, T.DataType] = field(default_factory=dict)
    quarantine_columns: list[str] = field(default_factory=list)


def _profiled_columns(schema: T.StructType) -> tuple[list[str], list[str]]:
    """(string columns, integer columns) — the ones the planner decides."""
    string_cols = [f.name for f in schema.fields if isinstance(f.dataType, T.StringType)]
    int_cols = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (T.LongType, T.IntegerType, T.ShortType, T.ByteType))
    ]
    return string_cols, int_cols


def profile_aggs(schema: T.StructType, where: Column) -> list[Column]:
    """The planner's profile of the rows where ``where`` holds, as
    aggregate columns for ``DataFrame.observe``: per-column HyperLogLog
    distinct counts (string + integer columns), the row count ``__n``
    and integer min/max — all in one pass over the input, riding a job
    that already scans it.

    Each aggregate reads ``CASE WHEN where THEN c END``: HLL++, count
    and min/max all skip NULLs, and HLL++ merges partials by register
    max, so the result equals the same aggregates over the filtered
    frame. Exact ``count_distinct`` is not an option — observed metrics
    reject DISTINCT aggregates."""
    string_cols, int_cols = _profiled_columns(schema)
    aggs = [
        F.approx_count_distinct(F.when(where, F.col(c))).alias(f"{c}__nd")
        for c in string_cols + int_cols
    ]
    aggs.append(F.count(F.when(where, F.lit(1))).alias("__n"))
    for c in int_cols:
        aggs.append(F.min(F.when(where, F.col(c))).alias(f"{c}__min"))
        aggs.append(F.max(F.when(where, F.col(c))).alias(f"{c}__max"))
    return aggs


def plan_tightening(
    schema: T.StructType,
    stats: dict,
    string_threshold: float = STRING_CATEGORICAL_THRESHOLD,
    numeric_threshold: float = NUMERIC_CATEGORICAL_THRESHOLD,
) -> TighteningPlan:
    """Decide categorical/downcast treatment of ``schema``'s columns
    from ``stats``, the observed row of ``profile_aggs(schema, ...)``.

    Runs no Spark job: distinct ratios (string + integer columns) and
    integer min/max ranges come from the one observed profile pass."""
    string_cols, int_cols = _profiled_columns(schema)
    plan = TighteningPlan()
    n = stats["__n"] or 1
    ratios = {c: stats[f"{c}__nd"] / n for c in string_cols + int_cols}
    for c in string_cols:
        if ratios[c] <= string_threshold:
            plan.categorical_strings.append(c)

    for c in int_cols:
        lo, hi = stats[f"{c}__min"], stats[f"{c}__max"]
        target = smallest_int_type(lo, hi, allow_boolean=True)
        current = schema[c].dataType
        if _width(target) < _width(current):
            plan.downcasts[c] = target
        if isinstance(current, T.LongType) and (
            (lo is not None and lo < -(2**31)) or (hi is not None and hi > 2**31 - 1)
        ):
            plan.quarantine_columns.append(c)
        if ratios[c] <= numeric_threshold and c not in plan.downcasts:
            plan.categorical_numerics.append(c)
    return plan


def _width(t: T.DataType) -> int:
    order = {T.BooleanType: 1, T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4, T.LongType: 8}
    return order.get(type(t), 16)


def apply_tightening(df: DataFrame, plan: TighteningPlan) -> DataFrame:
    """Emit the casts the plan decided — one projection, no shuffle.

    Categorical columns stay StringType logically (numeric categoricals
    are stringified, reference T3); Parquet dictionary encoding supplies
    the physical win (SURVEY §1.2 Categorical row).
    """
    exprs = {}
    for c in plan.categorical_numerics:
        exprs[c] = F.col(c).cast("string")
    for c, t in plan.downcasts.items():
        exprs[c] = F.col(c).cast(t)
    return df.withColumns(exprs) if exprs else df


def int32_admission_predicate(columns: list[str]):
    """AND of per-column fits-int32-or-null predicates — the main-output
    admission rule whose complement is the quarantine set (reference
    notebooks/0_preprocessing.ipynb:3446-3468)."""
    from ais_data_pipeline_spark.operators.filters import all_horizontal

    return all_horizontal([fits_int32_or_null(c) for c in columns])
