"""Referential integrity via anti-joins (M3).

The reference enforces FK only by convention — `observations.station_id ->
stations` meets solely in the LEFT JOIN at `view_data.py:167-172`. The graft
promotes it to a checked constraint over `transcripts_ref.clip_id ->
clips.clip_id`, both directions:

- orphan refs:   ref rows with no matching clip   (ref  ANTI clips)
- missing refs:  clips with no ground-truth row   (clips ANTI ref)

Join strategy is explicit (north rule "broadcast/sort-merge anti-joins"):
`missing_refs(broadcast=True)` hints BroadcastHashJoin (the ref keys fit in
executors); `broadcast=False` hints SHUFFLE_MERGE (forces the sort-merge
path); `broadcast=None` leaves Catalyst/AQE to pick by size stats, with
skew-join splitting for hot keys. At 10^12 rows the clip side never
broadcasts, so `orphan_refs` always leaves the choice to Catalyst/AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import VERDICT_FAIL, VERDICT_PASS


def _hint(df: DataFrame, broadcast: bool | None) -> DataFrame:
    if broadcast is True:
        return F.broadcast(df)
    if broadcast is False:
        return df.hint("shuffle_merge")
    return df


def orphan_refs(clips: DataFrame, refs: DataFrame) -> DataFrame:
    """Reference rows whose clip_id matches no clip."""
    return refs.join(clips.select("clip_id"), "clip_id", "left_anti")


def missing_refs(clips: DataFrame, refs: DataFrame, broadcast: bool | None = None) -> DataFrame:
    """Clips without a ground-truth transcript row (keeps part_id for verdicts)."""
    keys = _hint(refs.select("clip_id"), broadcast)
    return clips.select("clip_id", "part_id").join(keys, "clip_id", "left_anti")


def referential_violations(
    clips: DataFrame, refs: DataFrame, miss_pre: DataFrame | None = None,
) -> DataFrame:
    """`miss_pre`: optionally pass a precomputed (ideally persisted)
    missing_refs() result so verdicts and violations share ONE anti-join
    pass instead of re-running it (engine.validate does)."""
    if miss_pre is None:
        miss_pre = missing_refs(clips, refs)
    miss = miss_pre.select(
        F.col("part_id"),
        F.lit("referential").alias("constraint"),
        F.col("clip_id"),
        F.lit("clip_id").alias("column"),
        F.lit("no_reference_row").alias("observed"),
        F.lit("reference_row").alias("expected"),
        F.lit("clip has no transcripts_ref row").alias("detail"),
    )
    orph = orphan_refs(clips, refs).select(
        F.lit(-1).cast("int").alias("part_id"),  # orphan refs belong to no clip partition
        F.lit("referential").alias("constraint"),
        F.col("clip_id"),
        F.lit("clip_id").alias("column"),
        F.lit("orphan_reference").alias("observed"),
        F.lit("matching_clip").alias("expected"),
        F.lit("transcripts_ref row has no matching clip").alias("detail"),
    )
    return miss.unionByName(orph)


def referential_verdicts(
    clips: DataFrame, refs: DataFrame, miss_pre: DataFrame | None = None,
) -> DataFrame:
    """`miss_pre`: see referential_violations."""
    if miss_pre is None:
        miss_pre = missing_refs(clips, refs)
    per_part = clips.groupBy("part_id").agg(F.count(F.lit(1)).alias("n_rows"))
    miss = (
        miss_pre
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).alias("n_missing"))
    )
    joined = per_part.join(miss, "part_id", "left").fillna({"n_missing": 0})
    return joined.select(
        F.col("part_id"),
        F.lit("referential").alias("constraint"),
        F.when(F.col("n_missing") > 0, F.lit(VERDICT_FAIL))
        .otherwise(F.lit(VERDICT_PASS))
        .alias("status"),
        F.map_from_arrays(
            F.array(F.lit("n_rows"), F.lit("n_missing")),
            F.array(F.col("n_rows").cast("double"), F.col("n_missing").cast("double")),
        ).alias("metrics"),
        F.when(
            F.col("n_missing") > 0,
            F.format_string("%d clips without reference", F.col("n_missing")),
        ).alias("detail"),
    )
