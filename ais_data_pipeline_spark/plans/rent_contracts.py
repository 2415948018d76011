"""The reference's flagship pipeline, Spark-first (reference §3.2).

Polars notebook dataflow (reference notebooks/preprocessing_with_polars
.ipynb): scan_csv → drop ``_ar`` columns (P1, with the documented
``actual_area`` quirk) → lenient date parse (T1) → profile distinct
ratios → categorical casts (T2/T3) → min/max-driven downcast with
quarantine (variant notebook 0_preprocessing.ipynb:3385-3473) →
collect → parquet/brotli.

Spark shape: one job parses the CSV, tags each row good (int32
admission) or bad, pins the tagged rows and — on an ``Observation``
riding that same job — counts them and profiles the good ones; the
driver decides the casts from the observed row, then the main and
quarantine writes run concurrently off the pin. Three jobs in all, one
CSV scan. Bounded memory at any scale — nothing ever collects to the
driver except the observed profile row.

Invariants reproduced (SURVEY §5): 27-column output (no ``_ar``, no
``actual_area``), unparseable dates → null, rows_out + rows_quarantined
= rows_in.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ais_data_pipeline_spark.checkpointing import materialize
from ais_data_pipeline_spark.observability import Stopwatch, log
from ais_data_pipeline_spark.operators.profiling import (
    apply_tightening,
    estimate_size,
    int32_admission_predicate,
    plan_tightening,
    profile_aggs,
)
from ais_data_pipeline_spark.operators.projections import exclude_substring
from ais_data_pipeline_spark.operators.transforms import parse_date_lenient
from ais_data_pipeline_spark.sources.csv import read_csv

DATE_COLUMNS = ["contract_start_date", "contract_end_date"]


@dataclass
class PipelineResult:
    rows_in: int = 0
    rows_out: int = 0
    rows_quarantined: int = 0
    columns_out: list[str] = field(default_factory=list)
    est_size: dict = field(default_factory=dict)
    elapsed_sec: float = 0.0


def run_pipeline(
    spark: SparkSession,
    csv_path: str,
    out_path: str,
    quarantine_path: str,
    schema: T.StructType | None = None,
    date_columns: list[str] | None = None,
    estimate: bool = False,
) -> PipelineResult:
    sw = Stopwatch()
    date_columns = DATE_COLUMNS if date_columns is None else date_columns

    df = read_csv(spark, csv_path, schema=schema)
    log("pipeline_scan", path=csv_path, n_cols=len(df.columns))

    # P1 (with the reference's substring quirk: drops actual_area too)
    df = exclude_substring(df, "_ar")
    # T1 lenient date parse
    df = parse_date_lenient(df, [c for c in date_columns if c in df.columns])

    # Reference order: quarantine int32-violating rows FIRST (on the raw
    # Long values), then profile + tighten the surviving rows — so the
    # downcast decisions aren't polluted by outliers and the admission
    # predicate never sees a stringified categorical column.
    long_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, T.LongType)]
    result = PipelineResult()

    good_pred = (
        F.coalesce(int32_admission_predicate(long_cols).cast("boolean"), F.lit(False))
        if long_cols
        else F.lit(True)
    )
    # One job parses, counts, profiles the good rows and pins the tagged
    # rows: the profile rides the pin as observed metrics, so it costs
    # no job and no second read of the rows.
    obs = Observation("profile")
    tagged = materialize(
        df.withColumn("__good", good_pred).observe(
            obs,
            F.count(F.lit(1)).alias("__rows"),
            *profile_aggs(df.schema, F.col("__good")),
        )
    )
    stats = obs.get
    result.rows_in = stats["__rows"]
    good = tagged.filter(F.col("__good")).drop("__good")
    bad = tagged.filter(~F.col("__good")).drop("__good") if long_cols else None

    plan = plan_tightening(df.schema, stats)
    log(
        "tightening_plan",
        categorical_strings=plan.categorical_strings,
        categorical_numerics=plan.categorical_numerics,
        downcasts={c: str(t) for c, t in plan.downcasts.items()},
        quarantine_columns=plan.quarantine_columns,
    )
    tightened = apply_tightening(good, plan)
    result.columns_out = tightened.columns
    if estimate:
        result.est_size = estimate_size(tightened, n_rows=stats["__n"])

    # Row accounting rides on the writes themselves (df.observe) —
    # re-reading the just-written output for a .count() would add a
    # full extra scan of the table per sink at 100 TB. The main and
    # quarantine writes are independent jobs over the same pin —
    # overlap them from a thread pool (guide §2.6) so the (tiny)
    # quarantine write rides the main write's tail instead of
    # serializing after it.
    obs_out = Observation("rows_out")

    def write_main() -> None:
        (
            tightened.observe(obs_out, F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .option("compression", "zstd")
            .parquet(out_path)
        )

    obs_bad = Observation("rows_quarantined")

    def write_bad() -> None:
        (
            bad.observe(obs_bad, F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .option("compression", "zstd")
            .parquet(quarantine_path)
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(write_main)]
        if bad is not None:
            futs.append(pool.submit(write_bad))
        for f in futs:
            f.result()
    result.rows_out = obs_out.get["n"]
    if bad is not None:
        result.rows_quarantined = obs_bad.get["n"]

    result.elapsed_sec = sw.elapsed()
    log(
        "pipeline_done",
        rows_in=result.rows_in,
        rows_out=result.rows_out,
        rows_quarantined=result.rows_quarantined,
        elapsed_sec=round(result.elapsed_sec, 2),
    )
    return result
