"""Per-partition column statistics + threshold verdicts (the M1 core).

Recasts the reference's long-term health checker (`anomaly_detector.py:495-576`)
as ONE distributed aggregation: a single `groupBy(part_id)` hash aggregate
computes every metric for every monitored column at once (map-side partial agg,
one shuffle keyed on part_id) — killing the reference's sequential per-station
loop (`anomaly_detector.py:578-588`).

Reference-exact edge semantics (SURVEY.md §7.4.3):
- zero_ratio / null_ratio use NULL-INCLUSIVE denominators
  (`anomaly_detector.py:514-515`: `len(wind_speed)` counts NaNs);
- variance is SAMPLE variance (pandas `.var()` ddof=1, `anomaly_detector.py:516`)
  -> `var_samp`, while the detector sigma is POPULATION std
  (`np.std`, `anomaly_detector.py:117`) -> `stddev_pop`;
- empty input defaults: null_ratio->1, zero_ratio->0, variance->0
  (`anomaly_detector.py:514-516` guard);
- thresholds: zero_ratio>0.3 "stalled", null_ratio>0.5 "high_missing",
  variance<0.1 & null_ratio<0.9 "stuck" (`anomaly_detector.py:497-499,511-533`);
- n_rows < min_rows is a first-class `insufficient_data` verdict, not an error
  (`anomaly_detector.py:377`).

Scale: the plan is scan -> partial agg -> exchange(part_id) -> final agg.
`bytes` is never read (column pruning); quantiles are approx (t-digest-style
`percentile_approx`) so state per group is O(1); AQE coalesces the tiny
post-agg partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import VERDICT_FAIL, VERDICT_INSUFFICIENT, VERDICT_PASS

# Reference thresholds (anomaly_detector.py:497-499).
ZERO_RATIO_THRESHOLD = 0.3
NULL_RATIO_THRESHOLD = 0.5
VARIANCE_THRESHOLD = 0.1
MIN_ROWS = 3  # anomaly_detector.py:377

QUANTILES = [0.01, 0.25, 0.5, 0.75, 0.99]  # p1/p99 + IQR + median (A5/A6)


def _col_aggs(c: str, approx: bool, accuracy: int) -> list:
    col = F.col(c).cast("double")
    if approx:
        q = F.percentile_approx(col, QUANTILES, accuracy)
    else:
        q = F.percentile(col, F.array(*[F.lit(p) for p in QUANTILES]))
    return [
        F.count(col).alias(f"{c}__n_nonnull"),
        F.sum(F.when(col == 0, 1).otherwise(0)).alias(f"{c}__n_zero"),
        F.avg(col).alias(f"{c}__mean"),
        F.min(col).alias(f"{c}__min"),
        F.max(col).alias(f"{c}__max"),
        F.var_samp(col).alias(f"{c}__var_samp"),
        F.stddev_pop(col).alias(f"{c}__stddev_pop"),
        q.alias(f"{c}__quantiles"),
    ]


def profile(
    clips: DataFrame,
    columns: tuple[str, ...] = ("sr_hz", "dur_ms"),
    categorical: tuple[str, ...] = ("codec",),
    part_col: str = "part_id",
    approx: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """One row per partition with every column's stats (wide layout).

    Single shuffle on `part_col`; select-list keeps `bytes` out of the scan.
    """
    needed = [part_col, *columns, *categorical]
    aggs: list = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        aggs += _col_aggs(c, approx, accuracy)
    for c in categorical:
        aggs.append(F.approx_count_distinct(c).alias(f"{c}__approx_distinct"))
        aggs.append(F.count(c).alias(f"{c}__n_nonnull"))
    return clips.select(*needed).groupBy(part_col).agg(*aggs)


def stats_verdicts(
    profile_df: DataFrame,
    columns: tuple[str, ...] = ("sr_hz", "dur_ms"),
    part_col: str = "part_id",
    expected_rows: int | None = None,
    min_rows: int = MIN_ROWS,
) -> DataFrame:
    """Long-form verdicts: one row per (partition, column) with metrics map.

    Pure Catalyst `when` chain over the profiled stats (U15/U16 recast). The
    per-column stats are turned long by ONE projection (`inline` over one
    struct per column), so the verdict expressions are built once, not once
    per column.
    """
    long = profile_df.select(
        F.col(part_col).alias("part_id"),
        "n_rows",
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(f"column_stats:{c}").alias("constraint"),
                        F.col(f"{c}__n_nonnull").alias("n_nonnull"),
                        F.col(f"{c}__n_zero").alias("n_zero"),
                        F.col(f"{c}__var_samp").alias("var_samp"),
                        F.col(f"{c}__mean").alias("mean"),
                        F.col(f"{c}__min").alias("min"),
                        F.col(f"{c}__max").alias("max"),
                        F.col(f"{c}__quantiles").alias("quantiles"),
                    )
                    for c in columns
                ]
            )
        ),
    )
    n = F.col("n_rows").cast("double")
    nn = F.col("n_nonnull").cast("double")
    null_ratio = F.when(n > 0, (n - nn) / n).otherwise(F.lit(1.0))
    zero_ratio = F.when(n > 0, F.col("n_zero") / n).otherwise(F.lit(0.0))
    variance = F.coalesce(F.col("var_samp"), F.lit(0.0))
    completeness = (
        (n / F.lit(float(expected_rows))) if expected_rows else F.lit(None).cast("double")
    )
    issues = F.concat_ws(
        ",",
        F.when(zero_ratio > ZERO_RATIO_THRESHOLD, F.lit("stalled")),
        F.when(null_ratio > NULL_RATIO_THRESHOLD, F.lit("high_missing")),
        F.when((variance < VARIANCE_THRESHOLD) & (null_ratio < 0.9), F.lit("stuck")),
    )
    status = (
        F.when(F.col("n_rows") < min_rows, F.lit(VERDICT_INSUFFICIENT))
        .when(issues != "", F.lit(VERDICT_FAIL))
        .otherwise(F.lit(VERDICT_PASS))
    )
    metrics = F.map_from_arrays(
        F.array(
            F.lit("n_rows"),
            F.lit("null_ratio"),
            F.lit("zero_ratio"),
            F.lit("variance"),
            F.lit("mean"),
            F.lit("min"),
            F.lit("max"),
            F.lit("p25"),
            F.lit("median"),
            F.lit("p75"),
            F.lit("completeness"),
        ),
        F.array(
            n,
            null_ratio,
            zero_ratio,
            variance,
            F.col("mean"),
            F.col("min"),
            F.col("max"),
            F.element_at("quantiles", 2),
            F.element_at("quantiles", 3),
            F.element_at("quantiles", 4),
            completeness,
        ),
    )
    return long.select(
        "part_id",
        "constraint",
        status.alias("status"),
        metrics.alias("metrics"),
        F.when(issues != "", issues).alias("detail"),
    )
