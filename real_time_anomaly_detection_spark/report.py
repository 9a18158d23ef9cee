"""JSON report assembly: per-partition overall rollup + report document.

Recasts the reference's only normative output schema — the JSON report
(`anomaly_detector.py:672-676`, shape documented at
`stream_detection/api/response.md:151-272`) with the per-station
`overall_status` rollup (`anomaly_detector.py:567-576`: overall = 'critical'
iff any variable report is critical, plus a 'no_data' state at `:549-555`) —
onto the graft's per-partition constraint verdicts:

- `overall_rollup`   -> one row per partition with `overall_status`
                        (A14: bool_or-style max-severity rollup, pure Catalyst);
- `partition_reports`-> one JSON document per partition (distributed,
                        `to_json(struct(...))`, written with `df.write.json`);
- `report_document`  -> the single top-level report dict
                        (metadata + summary + partitions), collected to the
                        driver — presentation-sized: O(partitions), never
                        O(rows) — and dumped with `json.dump` exactly like the
                        reference's exporter.

Severity order (highest wins): error > fail > no_data > insufficient_data >
pass. A partition where EVERY constraint is insufficient_data reports
`no_data` (the reference's empty-station state); a mix reports the worst
constraint state.
"""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SEVERITY = {"pass": 0, "insufficient_data": 1, "fail": 2, "error": 3}


def _sev_expr(status):
    """Severity rank of a status column per ``_SEVERITY``; any other status
    (and null) ranks as pass."""
    rank = F.lit(_SEVERITY["pass"])
    for name, sev in _SEVERITY.items():
        if name != "pass":
            rank = F.when(status == name, sev).otherwise(rank)
    return rank


def overall_rollup(verdicts: DataFrame) -> DataFrame:
    """Per-partition overall status (U16/A14): max-severity across constraints,
    with the all-insufficient -> 'no_data' special state."""
    g = verdicts.groupBy("part_id").agg(
        F.max(_sev_expr(F.col("status"))).alias("_max_sev"),
        F.min(_sev_expr(F.col("status"))).alias("_min_sev"),
        F.count(F.lit(1)).alias("n_constraints"),
        F.sum(F.when(F.col("status") == "fail", 1).otherwise(0)).alias("n_fail"),
        F.sum(F.when(F.col("status") == "error", 1).otherwise(0)).alias("n_error"),
        F.sum(F.when(F.col("status") == "insufficient_data", 1).otherwise(0)).alias(
            "n_insufficient"
        ),
    )
    insufficient = _SEVERITY["insufficient_data"]
    overall = (
        F.when(F.col("_max_sev") == _SEVERITY["error"], F.lit("error"))
        .when(F.col("_max_sev") == _SEVERITY["fail"], F.lit("fail"))
        .when((F.col("_max_sev") == insufficient) & (F.col("_min_sev") == insufficient),
              F.lit("no_data"))
        .when(F.col("_max_sev") == insufficient, F.lit("insufficient_data"))
        .otherwise(F.lit("pass"))
    )
    return g.select(
        "part_id",
        overall.alias("overall_status"),
        "n_constraints",
        "n_fail",
        "n_error",
        "n_insufficient",
    )


def partition_reports(verdicts: DataFrame) -> DataFrame:
    """One row per partition: (part_id, overall_status, report_json) where
    report_json is the per-partition document — distributed assembly via
    `to_json(struct(...))`, suitable for `df.write.json` (S10)."""
    con = F.struct(
        F.col("constraint"),
        F.col("status"),
        F.col("metrics"),
        F.col("detail"),
    )
    # deterministic constraint order; explicit comparator because the struct
    # carries a map column (maps are not orderable by the default comparator)
    by_name = lambda l, r: (  # noqa: E731
        F.when(l["constraint"] < r["constraint"], -1)
        .when(l["constraint"] > r["constraint"], 1)
        .otherwise(0)
    )
    per_part = verdicts.groupBy("part_id").agg(
        F.array_sort(F.collect_list(con), by_name).alias("constraints")
    )
    rolled = per_part.join(overall_rollup(verdicts), "part_id")
    doc = F.to_json(
        F.struct(
            F.col("part_id"),
            F.col("overall_status"),
            F.col("n_constraints"),
            F.col("n_fail"),
            F.col("n_error"),
            F.col("constraints"),
        )
    )
    return rolled.select("part_id", "overall_status", doc.alias("report_json"))


def write_partition_reports(verdicts: DataFrame, path: str) -> None:
    """Distributed JSON-lines sink: one document per partition."""
    partition_reports(verdicts).select("report_json").write.mode("overwrite").text(path)


def report_document(
    verdicts: DataFrame,
    run_id: str | None = None,
    metadata: dict | None = None,
    timestamp: str | None = None,
) -> dict:
    """The single top-level report: metadata + summary + per-partition docs.

    Collected to the driver — O(partitions) presentation data, mirroring the
    reference's report dict (`anomaly_detector.py:645-676`)."""
    rows = (
        partition_reports(verdicts)
        .orderBy("part_id")
        .collect()
    )
    parts = [json.loads(r.report_json) for r in rows]
    by_status: dict[str, int] = {}
    for p in parts:
        by_status[p["overall_status"]] = by_status.get(p["overall_status"], 0) + 1
    return {
        "metadata": {
            "timestamp": timestamp
            or dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
            "run_id": run_id,
            "engine": "real_time_anomaly_detection_spark",
            **(metadata or {}),
        },
        "summary": {
            "total_partitions": len(parts),
            "passed_partitions": by_status.get("pass", 0),
            "failed_partitions": by_status.get("fail", 0),
            "errored_partitions": by_status.get("error", 0),
            "no_data_partitions": by_status.get("no_data", 0),
            "insufficient_partitions": by_status.get("insufficient_data", 0),
            # percentage formatting lives driver-side like the reference's
            # f"{ratio:.1%}" console summaries (anomaly_detector.py:520-521, F9)
            "failed_pct": f"{by_status.get('fail', 0) / len(parts):.1%}" if parts else "0.0%",
        },
        # reference report shape parity (response.md:151-272): the anomalous
        # entities with their failing constraints, and the normal list
        "anomalies": [
            {
                "part_id": p["part_id"],
                "overall_status": p["overall_status"],
                "failing_constraints": [
                    c for c in p["constraints"] if c["status"] in ("fail", "error")
                ],
            }
            for p in parts
            if p["overall_status"] in ("fail", "error")
        ],
        "normal_partitions": [
            p["part_id"] for p in parts if p["overall_status"] == "pass"
        ],
        "partitions": parts,
    }


def text_summary(doc: dict) -> str:
    """Console rendering of a report document — the reference's text report
    (`ReportGenerator.generate_text_report`, anomaly_detector.py:437-483:
    summary counts, then one block per anomalous entity with its failing
    checks). Pure driver-side presentation over the collected document."""
    s = doc["summary"]
    lines = [
        "=" * 64,
        "VALIDATION REPORT"
        + (f"  (run {doc['metadata'].get('run_id')})" if doc["metadata"].get("run_id") else ""),
        "=" * 64,
        f"partitions: {s['total_partitions']}  pass: {s['passed_partitions']}  "
        f"fail: {s['failed_partitions']} ({s['failed_pct']})  "
        f"error: {s['errored_partitions']}  no_data: {s['no_data_partitions']}  "
        f"insufficient: {s['insufficient_partitions']}",
        "-" * 64,
    ]
    for a in doc["anomalies"]:
        lines.append(f"partition {a['part_id']}: {a['overall_status'].upper()}")
        for c in a["failing_constraints"]:
            detail = f" — {c['detail']}" if c.get("detail") else ""
            lines.append(f"    {c['constraint']:<24} {c['status']}{detail}")
    if doc["normal_partitions"]:
        lines.append(f"normal partitions: {doc['normal_partitions']}")
    lines.append("=" * 64)
    return "\n".join(lines)


def write_report(
    verdicts: DataFrame,
    path: str,
    run_id: str | None = None,
    metadata: dict | None = None,
) -> dict:
    """Dump the single report document to `path` (reference:
    `json.dump(reports, f, indent=2, default=str)`, anomaly_detector.py:674)."""
    doc = report_document(verdicts, run_id=run_id, metadata=metadata)
    with open(path, "w") as f:
        json.dump(doc, f, indent=2, default=str)
    return doc


# ---------------------------------------------------------------------------
# Run-over-run regression diff — the temporal report a continuously-validated
# corpus needs: WHAT newly broke since the previous run, what was fixed, and
# what is still failing. The reference keeps per-cycle status history in
# collection_log (streaming_collector_sqlite.py:120-129) but never compares
# cycles; this closes that loop over the manifest/verdict lineage.
#
# Scale shape: verdict relations are metadata-scale (partitions x
# constraints, never corpus rows), but at 10^6 partitions x ~10 constraints
# that is still 10^7 rows — so the diff is ONE full-outer shuffle join on
# (part_id, constraint) with no broadcast assumption (AQE picks), and the
# per-metric deltas are a map_zip_with expression, not Python. Nothing is
# collected; the rollup is one more hash agg.

#: transition labels, most-actionable first (rollup orders by this)
_TRANSITIONS = (
    "regressed", "new", "still_failing", "removed", "fixed", "improved",
    "unchanged",
)


def run_diff(prev: DataFrame, cur: DataFrame) -> DataFrame:
    """Per-(part_id, constraint) transition between two verdict relations.

    transition semantics (severity order error > fail > insufficient > pass):
    - ``new`` / ``removed``  constraint+partition present on one side only
    - ``regressed``          severity rose (incl. pass -> fail/error)
    - ``fixed``              severity fell all the way to pass
    - ``improved``           severity fell but not to pass (error -> fail,
                             fail -> insufficient_data)
    - ``still_failing``      equal severity >= fail on both sides
    - ``unchanged``          equal severity below fail (pass -> pass,
                             insufficient -> insufficient)

    ``metric_delta`` is cur - prev per shared metric key (map_zip_with; a
    key present on one side only deltas to null, rows present on one side
    only carry a null map). ``detail_cur`` rides along so the regression
    list is actionable without a second join."""
    a = prev.select(
        "part_id", "constraint",
        F.col("status").alias("status_prev"),
        F.col("metrics").alias("_m_prev"),
    )
    b = cur.select(
        "part_id", "constraint",
        F.col("status").alias("status_cur"),
        F.col("metrics").alias("_m_cur"),
        F.col("detail").alias("detail_cur"),
    )
    j = a.join(b, ["part_id", "constraint"], "full_outer")

    sp, sc = _sev_expr(F.col("status_prev")), _sev_expr(F.col("status_cur"))
    transition = (
        F.when(F.col("status_prev").isNull(), F.lit("new"))
        .when(F.col("status_cur").isNull(), F.lit("removed"))
        .when(sc > sp, F.lit("regressed"))
        .when((sc < sp) & (sc == _SEVERITY["pass"]), F.lit("fixed"))
        .when(sc < sp, F.lit("improved"))
        .when(sc >= _SEVERITY["fail"], F.lit("still_failing"))
        .otherwise(F.lit("unchanged"))
    )
    delta = F.map_zip_with("_m_prev", "_m_cur", lambda k, x, y: y - x)
    return j.select(
        "part_id",
        "constraint",
        "status_prev",
        "status_cur",
        transition.alias("transition"),
        delta.alias("metric_delta"),
        "detail_cur",
    )


def run_diff_rollup(diff: DataFrame) -> DataFrame:
    """Per-constraint transition counts — 'which check family regressed
    fleet-wide' in one relation, ordered worst-first."""
    agg = diff.groupBy("constraint").agg(
        F.count(F.lit(1)).alias("n_partitions"),
        *[
            F.count_if(F.col("transition") == t).cast("bigint").alias(f"n_{t}")
            for t in _TRANSITIONS
        ],
    )
    return agg.orderBy(
        F.desc("n_regressed"), F.desc("n_new"), F.desc("n_still_failing"),
        "constraint",
    )


def diff_text_summary(diff_rows: list, rollup_rows: list) -> str:
    """Console rendering of a collected run-diff (driver-side presentation,
    same contract as text_summary — callers bound the collect)."""
    lines = ["=" * 64, "RUN DIFF", "=" * 64]
    for r in rollup_rows:
        interesting = r.n_regressed or r.n_new or r.n_still_failing or r.n_fixed
        if not interesting:
            continue
        lines.append(
            f"{r.constraint:<24} regressed: {r.n_regressed}  new: {r.n_new}  "
            f"still_failing: {r.n_still_failing}  fixed: {r.n_fixed}"
        )
    regressions = [r for r in diff_rows if r.transition == "regressed"]
    if regressions:
        lines.append("-" * 64)
        for r in regressions:
            detail = f" — {r.detail_cur}" if r.detail_cur else ""
            lines.append(
                f"partition {r.part_id}: {r.constraint} "
                f"{r.status_prev} -> {r.status_cur}{detail}"
            )
    else:
        lines.append("no regressions")
    lines.append("=" * 64)
    return "\n".join(lines)
