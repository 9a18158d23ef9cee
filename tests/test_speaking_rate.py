"""Speaking-rate (chars-per-second) consistency: signal domain (normalized
length, checkable-row gating), absolute-bound goldens, robust per-codec
outlier goldens (modified-z vs a hand-computed MAD, zero-MAD fallback,
min-group gate), verdict/violation shapes, engine family integration
(shares the pruned meta scan — no bytes in the plan), and the CLI flag."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from real_time_anomaly_detection_spark import engine
from real_time_anomaly_detection_spark.operators import speaking_rate as SR


def _clips_df(spark, rows):
    """rows: (part_id, clip_id, dur_ms, codec, transcript)."""
    return spark.createDataFrame(
        [(p, c, b"\x00\x00", 16000, d, co, t) for p, c, d, co, t in rows],
        "part_id int, clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string",
    )


def _bounds_clips(spark):
    return _clips_df(spark, [
        # 26 normalized chars over 2s = 13 cps: inside [1, 40]
        (0, "ok", 2000, "pcm16", "a quick brown fox jumps ok"),
        # 64 chars over 1s = 64 cps: transcript cannot fit the audio
        (0, "fast", 1000, "pcm16", "x" * 64),
        # 4 chars over 60s = 0.067 cps: transcript covers a fraction
        (1, "slow", 60000, "pcm16", "hi yo"),
        # all-punctuation normalizes to "" -> 0 cps -> too slow
        (1, "punct", 5000, "pcm16", "!!! ... ???"),
        # non-checkable rows: null transcript / null dur / zero dur
        (2, "nullt", 2000, "pcm16", None),
        (2, "nulld", None, "pcm16", "hello there"),
        (2, "zerod", 0, "pcm16", "hello there"),
    ])


def test_signals_domain(spark):
    sig = {r.clip_id: r for r in
           SR.speaking_rate_signals(_bounds_clips(spark)).collect()}
    # only rows with transcript AND dur_ms > 0 are checkable
    assert set(sig) == {"ok", "fast", "slow", "punct"}
    # normalized length: punctuation stripped, whitespace collapsed
    assert sig["punct"].n_chars == 0 and sig["punct"].chars_per_sec == 0.0
    assert sig["ok"].n_chars == 26
    assert sig["ok"].chars_per_sec == pytest.approx(13.0)
    assert sig["fast"].chars_per_sec == pytest.approx(64.0)


def test_violations_bounds_golden(spark):
    v = {r.clip_id: r for r in
         SR.speaking_rate_violations(_bounds_clips(spark)).collect()}
    assert set(v) == {"fast", "slow", "punct"}
    assert "cannot fit" in v["fast"].detail
    assert "fraction" in v["slow"].detail and "fraction" in v["punct"].detail
    assert v["fast"].expected == "[1.0, 40.0]"
    assert v["fast"].observed == "64.000"


def test_verdicts_golden(spark):
    v = (SR.speaking_rate_verdicts(_bounds_clips(spark))
         .toPandas().set_index("part_id"))
    assert v.loc[0].status == "fail" and v.loc[0].metrics["n_too_fast"] == 1.0
    assert v.loc[1].status == "fail" and v.loc[1].metrics["n_too_slow"] == 2.0
    # partition 2 has rows but none checkable: pass, n_checked 0
    assert v.loc[2].status == "pass" and v.loc[2].metrics["n_checked"] == 0.0
    assert v.loc[2].metrics["n_rows"] == 3.0


def _outlier_clips(spark):
    """One codec group with 31 clips: 30 at exactly 10 cps, one at 20 cps —
    in-bounds but a gross robust outlier (MAD 0 -> mean-AD fallback).
    A second codec group below min_group never flags."""
    rows = [(0, f"n{i}", 1000, "pcm16", "x" * 10) for i in range(30)]
    rows.append((1, "out", 1000, "pcm16", "x" * 20))
    rows += [(2, f"s{i}", 1000, "ulaw", "x" * (5 + 5 * i)) for i in range(4)]
    return _clips_df(spark, rows)


def test_outliers_golden(spark):
    sig = SR.speaking_rate_signals(_outlier_clips(spark))
    out = SR.speaking_rate_outliers(sig).collect()
    assert [r.clip_id for r in out] == ["out"]
    r = out[0]
    # median 10, raw MAD 0 -> mean-AD fallback = (31*|x-10| sums to 10)/31
    mean_ad = 10.0 / 31.0
    assert r.group_median == pytest.approx(10.0)
    assert r.group_mad == pytest.approx(mean_ad)
    assert r.mod_z == pytest.approx(abs(0.6745 * 10.0 / mean_ad))
    # the small ulaw group (n=4 < min_group) flags nothing even though its
    # spread is wide — robust stats need a population
    assert not any(x.codec == "ulaw" for x in out)


def test_outlier_violation_and_verdict(spark):
    clips = _outlier_clips(spark)
    sig = SR.speaking_rate_signals(clips)
    out = SR.speaking_rate_outliers(sig)
    viol = {r.clip_id: r for r in
            SR.speaking_rate_violations(clips, signals=sig, outliers=out).collect()}
    assert set(viol) == {"out"}
    assert "robust outlier" in viol["out"].detail
    v = (SR.speaking_rate_verdicts(clips, signals=sig, outliers=out)
         .toPandas().set_index("part_id"))
    assert v.loc[1].status == "fail" and v.loc[1].metrics["n_outliers"] == 1.0
    assert v.loc[0].status == "pass"


def test_out_of_bounds_not_double_reported(spark):
    """A clip failing bounds AND the robust gate reports once (bounds)."""
    rows = [(0, f"n{i}", 1000, "pcm16", "x" * 10) for i in range(30)]
    rows.append((0, "wild", 1000, "pcm16", "x" * 100))  # 100 cps: oob + outlier
    clips = _clips_df(spark, rows)
    sig = SR.speaking_rate_signals(clips)
    out = SR.speaking_rate_outliers(sig)
    viol = SR.speaking_rate_violations(clips, signals=sig, outliers=out).collect()
    assert len(viol) == 1 and "cannot fit" in viol[0].detail
    v = SR.speaking_rate_verdicts(clips, signals=sig, outliers=out).collect()[0]
    assert v.metrics["n_too_fast"] == 1.0 and v.metrics["n_outliers"] == 0.0


def test_engine_family_integration(spark):
    clips = _bounds_clips(spark)
    cfg = engine.ValidationConfig(
        checks=("column_stats", "uniqueness", "speaking_rate"))
    verdicts, violations = engine.validate(spark, clips, cfg=cfg)
    fam = verdicts.filter(F.col("constraint") == "speaking_rate")
    rows = {r.part_id: r for r in fam.collect()}
    assert rows[0].status == "fail" and rows[1].status == "fail"
    assert rows[2].status == "pass"
    viol = violations.filter(F.col("constraint") == "speaking_rate")
    assert {r.clip_id for r in viol.collect()} == {"fast", "slow", "punct"}
    assert "speaking_rate" in cfg.runnable_constraints()
    # metadata-only family: no scan in this plan READS `bytes` (the relation
    # header lists every column; ReadSchema is what the scan materializes)
    for df in (fam, viol):
        plan = df._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if "ReadSchema" in line:
                assert "bytes" not in line, line
    engine.release_all()


def test_cli_flag(spark, tmp_path):
    import os
    from real_time_anomaly_detection_spark import cli
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    _bounds_clips(spark).write.parquet(inp)
    cli.main(["validate", "--input", inp, "--out", out,
              "--speaking-rate", "--max-cps", "50.0"])
    v = spark.read.parquet(os.path.join(out, "verdicts"))
    fam = {r.part_id: r for r in
           v.filter(v.constraint == "speaking_rate").collect()}
    # max-cps 50 admits the 64-cps clip? no — 64 > 50 still fails part 0;
    # but it proves the flag reaches the config: raise it past 64 and
    # partition 0 must pass (too-slow findings in part 1 remain)
    assert fam[0].status == "fail" and fam[1].status == "fail"
    out2 = str(tmp_path / "out2")
    cli.main(["validate", "--input", inp, "--out", out2,
              "--speaking-rate", "--max-cps", "100.0"])
    v2 = spark.read.parquet(os.path.join(out2, "verdicts"))
    fam2 = {r.part_id: r for r in
            v2.filter(v2.constraint == "speaking_rate").collect()}
    assert fam2[0].status == "pass" and fam2[1].status == "fail"
