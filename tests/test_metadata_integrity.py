"""metadata_integrity family: payload byte count vs (sr_hz, dur_ms, codec).

Covers: per-row classification on hand-built payloads (every status), the
two input paths (own length(bytes) scan vs riding the PCM pass) agreeing
row-for-row, the tolerance band, engine/CLI wiring, and the plan-level
single-payload-scan invariant when audio + integrity are both on.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from real_time_anomaly_detection_spark import engine, synth
from real_time_anomaly_detection_spark.audio import codecs
from real_time_anomaly_detection_spark.operators import metadata_integrity as mi

CLIP_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("codec", T.StringType()),
        T.StructField("transcript", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
    ]
)


def _pcm(n: int) -> bytes:
    return codecs.pcm16_encode(np.sin(np.linspace(0, 20, n)))


def _clips(spark, rows):
    return spark.createDataFrame(rows, CLIP_SCHEMA)


@pytest.fixture(scope="module")
def planted(spark):
    """One clip per status. sr=1000, dur=100ms -> expected 100 samples."""
    ok16 = _pcm(100)  # 200 bytes, pcm16
    rows = [
        ("ok_pcm16", ok16, 1000, 100, "pcm16", "t", 0),
        ("ok_ulaw", codecs.ulaw_encode(np.zeros(100)), 1000, 100, "ulaw", "t", 0),
        ("ok_alaw", codecs.alaw_encode(np.zeros(100)), 1000, 100, "alaw", "t", 0),
        ("truncated", ok16[:120], 1000, 100, "pcm16", "t", 1),  # 60 samples
        ("padded", _pcm(130), 1000, 100, "pcm16", "t", 1),  # 130 samples
        ("misaligned", ok16[:121], 1000, 100, "pcm16", "t", 1),  # odd byte count
        ("unknown_codec", ok16, 1000, 100, "opus", "t", 1),
        ("null_meta", ok16, None, None, "pcm16", "t", 1),
        # sub-millisecond promise: expected = greatest(floor(1000*0/1000),1)=1
        ("zero_dur", ok16, 1000, 0, "pcm16", "t", 1),
    ]
    return _clips(spark, rows)


def _statuses(df):
    return {r["clip_id"]: r["row_status"] for r in df.collect()}


def test_row_classification(spark, planted):
    sig = mi.integrity_signals(mi.payload_lengths(planted))
    got = _statuses(sig)
    assert got == {
        "ok_pcm16": "ok",
        "ok_ulaw": "ok",
        "ok_alaw": "ok",
        "truncated": "truncated",
        "padded": "padded",
        "misaligned": "misaligned",
        "unknown_codec": "unknown_codec",
        "null_meta": "null_meta",
        "zero_dur": "padded",  # 100 actual samples vs the promised 1
    }


def test_violations_and_verdicts(spark, planted):
    sig = mi.integrity_signals(mi.payload_lengths(planted))
    viol = {r["clip_id"]: r for r in mi.integrity_violations(sig).collect()}
    # null_meta is skipped, ok rows absent
    assert set(viol) == {"truncated", "padded", "misaligned", "unknown_codec", "zero_dur"}
    tr = viol["truncated"]
    assert tr["constraint"] == "metadata_integrity" and tr["column"] == "bytes"
    assert tr["observed"] == "120 bytes (60 samples)"
    assert tr["expected"] == "200 bytes (100 samples)"
    assert tr["detail"].startswith("truncated:")
    # unknown codec: no expected length computable
    assert viol["unknown_codec"]["expected"] is None

    verd = {r["part_id"]: r for r in mi.integrity_verdicts(sig).collect()}
    assert verd[0]["status"] == "pass" and verd[0]["metrics"]["n_bad"] == 0.0
    assert verd[1]["status"] == "fail"
    assert verd[1]["metrics"] == {
        "n_rows": 6.0, "n_checked": 5.0, "n_bad": 5.0, "n_null_meta": 1.0,
    }


def test_tolerance_band(spark):
    """tol_ms widens acceptance by ceil(sr*tol/1000) samples each way."""
    rows = [
        ("short1", _pcm(99), 1000, 100, "pcm16", "t", 0),
        ("long1", _pcm(101), 1000, 100, "pcm16", "t", 0),
        ("short2", _pcm(98), 1000, 100, "pcm16", "t", 0),
    ]
    df = _clips(spark, rows)
    strict = _statuses(mi.integrity_signals(mi.payload_lengths(df)))
    assert strict == {"short1": "truncated", "long1": "padded", "short2": "truncated"}
    loose = _statuses(mi.integrity_signals(mi.payload_lengths(df), tol_ms=1.0))
    assert loose == {"short1": "ok", "long1": "ok", "short2": "truncated"}


def test_ride_pcm_path_matches_own_scan(spark, planted):
    """The with_len passthrough out of the PCM Arrow batches must equal the
    pure-Catalyst length(bytes) projection row-for-row (both engine paths)."""
    from real_time_anomaly_detection_spark.operators import audio_checks

    checked = audio_checks.pcm_check(planted, lambda cid: np.zeros(1), with_len=True)
    via_pcm = mi.integrity_signals(checked.select(*mi._LEN_COLS))
    own = mi.integrity_signals(mi.payload_lengths(planted))
    assert _statuses(via_pcm) == _statuses(own)
    a = {r["clip_id"]: r["payload_len"] for r in via_pcm.collect()}
    b = {r["clip_id"]: r["payload_len"] for r in own.collect()}
    assert a == b


def test_engine_wiring_both_paths(spark, planted):
    """validate() emits the family with and without audio; verdict rows and
    violation sets agree between the two wirings."""
    def _run(checks, **kw):
        v, viol = engine.validate(
            spark, planted, cfg=engine.ValidationConfig(checks=checks), **kw
        )
        mine_v = v.filter(F.col("constraint") == "metadata_integrity").collect()
        mine_viol = viol.filter(F.col("constraint") == "metadata_integrity").collect()
        return (
            sorted((r["part_id"], r["status"]) for r in mine_v),
            sorted(r["clip_id"] for r in mine_viol),
        )

    no_audio = _run(("metadata_integrity",))
    refs = planted.select("clip_id", "transcript")
    with_audio = _run(
        ("metadata_integrity", "audio"),
        refs=refs,
        ref_pcm_fn=lambda cid: np.zeros(1),
    )
    engine.release_all()
    assert no_audio == with_audio
    assert no_audio[0] == [(0, "pass"), (1, "fail")]
    assert no_audio[1] == ["misaligned", "padded", "truncated", "unknown_codec", "zero_dur"]


def test_clean_synth_corpus_passes(spark):
    """synth's canonical payloads satisfy the expected-sample formula exactly
    (n = max(1, int(sr*dur/1000)) at synth.py:88) — a clean corpus must be
    all-ok at tol_ms=0."""
    cfg = synth.clean_config(n_clips=300, clips_per_partition=100)
    clips = synth.clips_df(spark, cfg)
    sig = mi.integrity_signals(mi.payload_lengths(clips))
    bad = sig.filter(F.col("row_status") != "ok").count()
    assert bad == 0


def test_golden_zero_dur_knob_flags_padded(spark):
    """The golden fixture's zero-dur knob (dur_ms=0 written AFTER encoding
    the canonical waveform) is exactly the metadata-lie this family exists
    for: those clips must flag 'padded'; null-knob clips must be skipped."""
    cfg = synth.golden_config(n_clips=1000, clips_per_partition=100)
    clips = synth.clips_df(spark, cfg)
    sig = mi.integrity_signals(mi.payload_lengths(clips)).persist()
    zero_parts = set(cfg.zero_rate_knob)
    padded = sig.filter(F.col("row_status") == "padded")
    assert padded.count() > 0
    assert {r["part_id"] for r in padded.select("part_id").distinct().collect()} \
        <= zero_parts
    # every zero-dur row is caught (dur_ms==0 and payload present)
    n_zero = clips.filter(F.col("dur_ms") == 0).count()
    assert padded.count() == n_zero
    # nulls are skipped, not violations
    assert sig.filter(F.col("row_status") == "null_meta").count() == \
        clips.filter(F.col("sr_hz").isNull()).count()
    sig.unpersist()


def test_single_payload_scan_when_riding_pcm(spark, planted, tmp_path):
    """With audio + metadata_integrity both on, the integrity branch consumes
    the PCM pass's cached payload_len — its plan must contain NO length(bytes)
    expression (that would be a second payload scan). With audio off, the
    map-side length(bytes) projection is exactly what must appear."""
    path = str(tmp_path / "clips")
    planted.write.mode("overwrite").parquet(path)
    clips = spark.read.parquet(path)
    refs = clips.select("clip_id", "transcript")

    def _phys(df):
        return df._jdf.queryExecution().toString().split("== Physical Plan ==")[-1]

    v, viol = engine.validate(
        spark, clips, refs=refs, ref_pcm_fn=lambda cid: np.zeros(1),
        cfg=engine.ValidationConfig(checks=("audio", "metadata_integrity")),
    )
    for df in (v, viol):
        p = _phys(df)
        assert "length(bytes" not in p, "integrity must ride the pcm scan"
        assert "payload_len" in p
        # the one payload reader is the cached Arrow pcm pass
        assert "InMemoryTableScan" in p or "InMemoryRelation" in p
    engine.release_all()

    v2, _ = engine.validate(
        spark, clips, cfg=engine.ValidationConfig(checks=("metadata_integrity",)),
    )
    assert "length(bytes" in _phys(v2)  # own map-side length scan
    engine.release_all()


def test_runnable_constraints_include_family(spark):
    cfg = engine.ValidationConfig(checks=("column_stats", "metadata_integrity"))
    assert "metadata_integrity" in cfg.runnable_constraints()


def test_cli_flag(spark, planted, tmp_path):
    import os

    from real_time_anomaly_detection_spark import cli

    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    planted.write.parquet(inp)
    cli.main(["validate", "--input", inp, "--out", out, "--metadata-integrity"])
    v = spark.read.parquet(os.path.join(out, "verdicts"))
    fam = {r.part_id: r for r in
           v.filter(v.constraint == "metadata_integrity").collect()}
    # part 0 is the three exact-fit clips; part 1 carries every planted defect
    assert fam[0].status == "pass" and fam[1].status == "fail"
    viol = spark.read.parquet(os.path.join(out, "violations"))
    bad = {r.clip_id for r in
           viol.filter(viol.constraint == "metadata_integrity").collect()}
    # zero_dur promises greatest(floor(0),1)=1 sample but carries 100 -> padded
    assert bad == {"truncated", "padded", "misaligned", "unknown_codec",
                   "zero_dur"}
