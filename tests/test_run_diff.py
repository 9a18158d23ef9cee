"""Run-over-run regression diff (report.run_diff / manifest.run_verdicts).

Covers: the full transition matrix on hand-built verdict pairs, metric-delta
map semantics, the per-constraint rollup ordering, keep-latest manifest
extraction, no-Python-UDF plan, and the CLI over a real two-run validate
flow (clean corpus baseline -> corpus with a planted defect regresses).
"""

import pytest
from pyspark.sql import functions as F

from real_time_anomaly_detection_spark import manifest as mf
from real_time_anomaly_detection_spark import report as rp
from real_time_anomaly_detection_spark.schemas import PARTITION_VERDICTS


def _verdicts(spark, rows):
    return spark.createDataFrame(
        [
            (p, c, s, dict(m) if m is not None else None, d)
            for p, c, s, m, d in rows
        ],
        PARTITION_VERDICTS,
    )


@pytest.fixture(scope="module")
def pair(spark):
    prev = _verdicts(spark, [
        (0, "uniqueness", "pass", {"n": 10.0}, None),
        (1, "uniqueness", "pass", {"n": 10.0}, None),          # -> regressed
        (2, "uniqueness", "fail", {"n": 10.0, "dups": 2.0}, None),  # -> fixed
        (3, "uniqueness", "fail", None, None),                 # -> still_failing
        (4, "uniqueness", "error", None, None),                # -> improved
        (5, "uniqueness", "insufficient_data", None, None),    # -> unchanged
        (6, "uniqueness", "pass", None, None),                 # -> removed
    ])
    cur = _verdicts(spark, [
        (0, "uniqueness", "pass", {"n": 12.0}, None),
        (1, "uniqueness", "fail", {"n": 10.0, "dups": 3.0}, "3 dups"),
        (2, "uniqueness", "pass", {"n": 10.0}, None),
        (3, "uniqueness", "fail", None, None),
        (4, "uniqueness", "fail", None, None),
        (5, "uniqueness", "insufficient_data", None, None),
        (7, "uniqueness", "fail", None, "fresh partition"),    # -> new
    ])
    return prev, cur


def test_transition_matrix(spark, pair):
    d = {r.part_id: r for r in rp.run_diff(*pair).collect()}
    assert d[0].transition == "unchanged"
    assert d[1].transition == "regressed"
    assert d[2].transition == "fixed"
    assert d[3].transition == "still_failing"
    assert d[4].transition == "improved"      # error -> fail, not to pass
    assert d[5].transition == "unchanged"     # insufficient both sides
    assert d[6].transition == "removed" and d[6].status_cur is None
    assert d[7].transition == "new" and d[7].status_prev is None
    assert d[7].detail_cur == "fresh partition"
    # insufficient_data sits between pass and fail in the severity order
    prev = _verdicts(spark, [
        (0, "uniqueness", "pass", None, None),
        (1, "uniqueness", "fail", None, None),
        (2, "uniqueness", "insufficient_data", None, None),
    ])
    cur = _verdicts(spark, [
        (0, "uniqueness", "insufficient_data", None, None),
        (1, "uniqueness", "insufficient_data", None, None),
        (2, "uniqueness", "pass", None, None),
    ])
    d = {r.part_id: r.transition for r in rp.run_diff(prev, cur).collect()}
    assert d == {0: "regressed", 1: "improved", 2: "fixed"}


def test_metric_delta_semantics(spark, pair):
    d = {r.part_id: r for r in rp.run_diff(*pair).collect()}
    assert d[0].metric_delta == {"n": 2.0}
    # key on one side only -> null entry; shared key -> numeric delta
    assert d[1].metric_delta == {"n": 0.0, "dups": None}
    # null map on either side -> null delta (new/removed rows included)
    assert d[3].metric_delta is None
    assert d[6].metric_delta is None and d[7].metric_delta is None


def test_rollup_golden_and_order(spark, pair):
    prev, cur = pair
    # add a second, quiet constraint: rollup must order the noisy one first
    quiet_p = _verdicts(spark, [(0, "drift", "pass", None, None)])
    quiet_c = _verdicts(spark, [(0, "drift", "pass", None, None)])
    diff = rp.run_diff(prev.union(quiet_p), cur.union(quiet_c))
    rows = rp.run_diff_rollup(diff).collect()
    assert [r.constraint for r in rows] == ["uniqueness", "drift"]
    u = rows[0]
    assert (u.n_partitions, u.n_regressed, u.n_fixed, u.n_improved,
            u.n_still_failing, u.n_new, u.n_removed, u.n_unchanged) == (
        8, 1, 1, 1, 1, 1, 1, 2)


def test_no_python_in_plan(spark, pair):
    p = rp.run_diff(*pair)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_manifest_run_verdicts_keep_latest(spark, tmp_path):
    path = str(tmp_path / "manifest")
    first = _verdicts(spark, [(0, "uniqueness", "error", None, None)])
    retry = _verdicts(spark, [(0, "uniqueness", "pass", {"n": 5.0}, None)])
    mf.append_manifest(first, "rA", path)
    mf.append_manifest(retry, "rA", path)  # resume retried the errored part
    mf.append_manifest(first, "rB", path)  # other runs must not bleed in
    got = mf.run_verdicts(mf.read_manifest(spark, path), "rA").collect()
    assert len(got) == 1
    assert got[0].status == "pass" and got[0].metrics == {"n": 5.0}


def test_cli_two_run_flow(spark, tmp_path):
    """Baseline validate on a clean corpus, second run with a planted
    duplicate clip_id -> run-diff reports the uniqueness regression."""
    import os

    from real_time_anomaly_detection_spark import cli, synth

    clean = synth.clips_df(
        spark, synth.clean_config(n_clips=300, clips_per_partition=100)
    )
    dup = clean.unionByName(
        clean.filter(F.col("part_id") == 1).limit(1)  # one duplicated clip
    )
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    clean.write.parquet(a + "_in")
    dup.write.parquet(b + "_in")
    for src, out in ((a + "_in", a), (b + "_in", b)):
        cli.main(["validate", "--input", src, "--out", out])
    out = str(tmp_path / "diffout")
    cli.main(["run-diff", "--prev", os.path.join(a, "verdicts"),
              "--cur", os.path.join(b, "verdicts"), "--out", out])
    diff = spark.read.parquet(os.path.join(out, "diff"))
    reg = diff.filter(F.col("transition") == "regressed").collect()
    assert [(r.part_id, r.constraint) for r in reg] == [(1, "uniqueness")]
    assert reg[0].status_prev == "pass" and reg[0].status_cur == "fail"
    roll = {r.constraint: r for r in
            spark.read.parquet(os.path.join(out, "rollup")).collect()}
    assert roll["uniqueness"].n_regressed == 1
    # everything else held steady across the two runs
    assert all(r.n_regressed == 0 for c, r in roll.items()
               if c != "uniqueness")
