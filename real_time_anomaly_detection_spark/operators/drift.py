"""Distribution-drift checks: PSI + KS vs a baseline snapshot (M4).

Recasts the reference's dual verification idea — "does this series deviate
from its peer baseline?" (spatial trend verification, `anomaly_detector.py:
317-373`, thresholded verdict at `:385-404`) — as per-partition distribution
comparison against a persisted baseline snapshot:

- baseline: per column, a fixed-bin histogram (fractions) + quantile grid,
  built once over a reference dataset (`make_baseline`) and stored as a tiny
  metadata table (BASELINE_SNAPSHOT schema);
- check: per partition, bin counts with the SAME bin edges via a pure Catalyst
  expression -> ONE groupBy(part_id) hash aggregate computing every column's
  histogram at once (map-side combinable, O(n_bins) state, no sort, no UDF);
- PSI = sum_i (p_i - b_i) * ln(p_i / b_i) (epsilon-smoothed),
  KS  = max_i |cumsum(p)_i - cumsum(b)_i| (binned ECDF approximation —
  reported as `ks_binned` in metrics).

PSI/KS are evaluated with array higher-order functions (`zip_with` +
`aggregate`) over the histogram array, so the expression tree is O(1) in bin
count — hand-unrolled per-bin expressions put codegen time quadratic in
n_bins and dominated runtime at 24 bins.

Scale: histogram state is n_bins longs per (partition, column); the whole
check is one shuffle on part_id. The baseline is collected to the driver (it
is metadata-sized: n_columns rows) and folded into array literals, so the
comparison never joins.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import VERDICT_FAIL, VERDICT_INSUFFICIENT, VERDICT_PASS

PSI_THRESHOLD = 0.25
KS_THRESHOLD = 0.15
MIN_ROWS = 10
EPS = 1e-6
DEFAULT_BINS = 24
_QGRID = [i / 20 for i in range(21)]


def _bin_expr(c: str, lo: float, width: float, n_bins: int):
    col = F.col(c).cast("double")
    raw = F.floor((col - F.lit(lo)) / F.lit(width))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))


def make_baseline(
    reference: DataFrame,
    columns: tuple[str, ...] = ("dur_ms", "sr_hz"),
    n_bins: int = DEFAULT_BINS,
    snapshot_id: str = "baseline",
    accuracy: int = 10000,
) -> list[dict]:
    """Build baseline snapshot rows (plain dicts, BASELINE_SNAPSHOT shape)
    from a reference dataset. Two jobs: range probe + histogram."""
    aggs = []
    for c in columns:
        col = F.col(c).cast("double")
        aggs += [
            F.min(col).alias(f"{c}__min"),
            F.max(col).alias(f"{c}__max"),
            F.count(col).alias(f"{c}__n"),
            F.percentile_approx(col, _QGRID, accuracy).alias(f"{c}__q"),
        ]
    ranges = reference.select(*[F.col(c) for c in columns]).agg(*aggs).collect()[0]

    edges: dict[str, tuple[float, float, float]] = {}
    for c in columns:
        if ranges[f"{c}__min"] is None:
            raise ValueError(
                f"make_baseline: column {c!r} is entirely NULL in the reference "
                "dataset — no histogram can be built; drop it from `columns`"
            )
        lo = float(ranges[f"{c}__min"])
        hi = float(ranges[f"{c}__max"])
        # degenerate range (constant column, e.g. an all-zero
        # clipping_ratio baseline): a wide fallback width would clamp EVERY
        # observed value into bin 0 alongside the constant and make drift
        # invisible; a hair-width bin keeps float-noise "equal" values in
        # bin 0 while any real departure clamps into the last bin, where
        # PSI/KS see it
        width = (
            (hi - lo) / n_bins if hi > lo else max(abs(lo) * 1e-9, 1e-12)
        )
        edges[c] = (lo, hi, width)
    # histogram via conditional sums folded into one agg per column, expressed
    # compactly: count per bin with a groupBy on the bin id would shuffle; a
    # single-row agg with collect is wasteful; instead aggregate bin counts
    # with `count_if` unrolled — n_bins is small and this runs ONCE.
    hist_aggs = []
    for c in columns:
        lo, hi, width = edges[c]
        b = _bin_expr(c, lo, width, n_bins)
        for i in range(n_bins):
            hist_aggs.append(F.count_if(b == i).alias(f"{c}__h{i}"))
    hist = reference.select(*[F.col(c) for c in columns]).agg(*hist_aggs).collect()[0]

    rows = []
    for c in columns:
        lo, hi, width = edges[c]
        n = float(ranges[f"{c}__n"]) or 1.0
        counts = [float(hist[f"{c}__h{i}"] or 0) for i in range(n_bins)]
        rows.append(
            {
                "snapshot_id": snapshot_id,
                "column_name": c,
                "bin_lo": [lo + i * width for i in range(n_bins)],
                "bin_hi": [lo + (i + 1) * width for i in range(n_bins)],
                # the EXACT float the histogram above binned with: verdicts
                # must floor() with this same value — reconstructing it as
                # bin_hi[0]-bin_lo[0] is off by an ulp, which flips the bin
                # of any value sitting exactly on a boundary (discrete
                # feature columns hit this constantly)
                "bin_width": width,
                "bin_frac": [cnt / n for cnt in counts],
                "quantile_p": list(_QGRID),
                "quantile_v": [float(v) for v in ranges[f"{c}__q"]],
                "n_rows": int(ranges[f"{c}__n"]),
            }
        )
    return rows


def drift_verdicts(
    clips: DataFrame,
    baseline_rows: list[dict],
    part_col: str = "part_id",
    psi_threshold: float = PSI_THRESHOLD,
    ks_threshold: float = KS_THRESHOLD,
    min_rows: int = MIN_ROWS,
    quantile_accuracy: int = 10000,
) -> DataFrame:
    """Per-(partition, column) drift verdicts from ONE groupBy(part_id).

    Metrics per column: PSI + binned-KS from the fixed-bin histogram, plus a
    quantile-SKETCH distance (the north rule's "tests on t-digest sketches"):
    `w1_norm` = mean |q_obs(p) - q_base(p)| over the stored p-grid, divided
    by the baseline range — a normalized Wasserstein-1 between the sketch
    quantile functions. percentile_approx IS the mergeable quantile sketch
    (GK/KLL family), so the state stays O(sketch) per (partition, column).
    Verdict thresholds remain on PSI/KS (reference-pinned goldens); w1_norm
    is reported in the metrics map."""
    cols = [r["column_name"] for r in baseline_rows]
    qgrid = [float(p) for p in baseline_rows[0]["quantile_p"]]
    aggs = []
    for row in baseline_rows:
        c = row["column_name"]
        n_bins = len(row["bin_frac"])
        lo = row["bin_lo"][0]
        # prefer the stored exact width (see make_baseline); the difference
        # reconstruction is the documented fallback for pre-bin_width
        # snapshots and is 1-ulp inexact on boundary values
        width = (
            row["bin_width"]
            if "bin_width" in row and row["bin_width"]  # dict OR Row input
            else row["bin_hi"][0] - row["bin_lo"][0]
        )
        b = _bin_expr(c, lo, width, n_bins)
        aggs.append(F.count(F.col(c)).alias(f"{c}__n"))
        aggs.append(
            F.array(
                *[F.count_if(F.col(c).isNotNull() & (b == i)) for i in range(n_bins)]
            ).alias(f"{c}__h")
        )
        aggs.append(
            F.percentile_approx(F.col(c).cast("double"), qgrid, quantile_accuracy).alias(
                f"{c}__q"
            )
        )
    g = clips.select(part_col, *cols).groupBy(part_col).agg(*aggs)

    staged = []
    for row in baseline_rows:
        c = row["column_name"]
        blit = F.lit(np.asarray(row["bin_frac"], dtype=np.float64))
        n = F.greatest(F.col(f"{c}__n").cast("double"), F.lit(1.0))
        # pairs: (observed fraction, baseline fraction) per bin — O(1) expr tree
        pairs = F.zip_with(
            F.col(f"{c}__h"),
            blit,
            lambda h, bfrac: F.struct(
                (h.cast("double")).alias("h"), bfrac.alias("b")
            ),
        )
        psi = F.aggregate(
            pairs,
            F.lit(0.0),
            lambda acc, x: acc
            + ((x["h"] / n + EPS) - (x["b"] + EPS))
            * (F.log(x["h"] / n + EPS) - F.log(x["b"] + EPS)),
        )
        ks = F.aggregate(
            pairs,
            F.struct(
                F.lit(0.0).alias("cp"), F.lit(0.0).alias("cb"), F.lit(0.0).alias("ks")
            ),
            lambda acc, x: F.struct(
                (acc["cp"] + x["h"] / n).alias("cp"),
                (acc["cb"] + x["b"]).alias("cb"),
                F.greatest(
                    acc["ks"], F.abs(acc["cp"] + x["h"] / n - acc["cb"] - x["b"])
                ).alias("ks"),
            ),
            lambda acc: acc["ks"],
        )
        # quantile-sketch W1: mean |q_obs - q_base| over the grid, scaled by
        # the baseline range; q_base folded in as a literal (no join)
        q_base = F.lit(np.asarray(row["quantile_v"], dtype=np.float64))
        rng_base = max(row["quantile_v"][-1] - row["quantile_v"][0], 1e-12)
        w1 = (
            F.aggregate(
                F.zip_with(F.col(f"{c}__q"), q_base, lambda o, bse: F.abs(o - bse)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / F.lit(float(len(row["quantile_v"])))
            / F.lit(float(rng_base))
        )
        staged.append(
            F.struct(
                F.lit(f"drift:{c}").alias("constraint"),
                F.col(f"{c}__n").alias("n_nonnull"),
                psi.alias("psi"),
                ks.alias("ks"),
                w1.alias("w1"),
            )
        )
    # every column's (n, psi, ks, w1) goes long in ONE projection; the
    # verdict expressions below are then built once, not once per column
    long = g.select(F.col(part_col).alias("part_id"), F.inline(F.array(*staged)))
    drifted = (F.col("psi") > psi_threshold) | (F.col("ks") > ks_threshold)
    return long.select(
        "part_id",
        "constraint",
        F.when(F.col("n_nonnull") < min_rows, F.lit(VERDICT_INSUFFICIENT))
        .when(drifted, F.lit(VERDICT_FAIL))
        .otherwise(F.lit(VERDICT_PASS))
        .alias("status"),
        F.map_from_arrays(
            F.array(
                F.lit("n_nonnull"), F.lit("psi"), F.lit("ks_binned"), F.lit("w1_norm")
            ),
            F.array(
                F.col("n_nonnull").cast("double"),
                F.col("psi"),
                F.col("ks"),
                F.col("w1"),
            ),
        ).alias("metrics"),
        F.when(
            drifted,
            F.format_string(
                "distribution drift psi=%.4f ks=%.4f", F.col("psi"), F.col("ks")
            ),
        ).alias("detail"),
    )
