"""Golden end-to-end verdicts on the planted-violation fixture (FIXTURES.md §5)
plus reference-exact edge semantics and resume invariants (SURVEY.md §5)."""

import numpy as np
import pandas as pd
import py4j.clientserver
import pytest
from pyspark.errors import utils as err_utils
from pyspark.sql import functions as F

from real_time_anomaly_detection_spark import engine, manifest as mf, synth
from real_time_anomaly_detection_spark.operators import drift, stats, uniqueness

CFG = synth.golden_config(n_clips=2000, clips_per_partition=200)
CLEAN = synth.clean_config(n_clips=2000, clips_per_partition=200)


@pytest.fixture(scope="module")
def clips(spark):
    return spark.createDataFrame(synth.clips_pdf(CFG)).cache()


@pytest.fixture(scope="module")
def refs(spark):
    return synth.transcripts_ref_df(spark, CFG).cache()


@pytest.fixture(scope="module")
def baseline_rows(spark):
    clean = spark.createDataFrame(synth.clips_pdf(CLEAN))
    return drift.make_baseline(clean, ("dur_ms", "sr_hz"))


@pytest.fixture(scope="module")
def results(spark, clips, refs, baseline_rows):
    vcfg = engine.ValidationConfig()
    verdicts, violations = engine.validate(
        spark,
        clips,
        refs=refs,
        baseline_rows=baseline_rows,
        ref_pcm_fn=lambda cid: synth.reference_pcm(CFG, cid),
        cfg=vcfg,
    )
    return verdicts.toPandas(), violations.toPandas()


def _status(vdf: pd.DataFrame, part: int, constraint: str) -> str:
    rows = vdf[(vdf.part_id == part) & (vdf.constraint == constraint)]
    assert len(rows) == 1, f"expected one verdict for ({part}, {constraint}), got\n{rows}"
    return rows.status.iloc[0]


def test_golden_verdict_matrix(results):
    vdf, _ = results
    # partition roles: 0 clean | 1 dup | 2 nulls | 3 zeros | 4 const | 5 drift
    #                  6 corrupt pcm | 7 transcript mismatch | 8 empty | 9 clean
    assert _status(vdf, 0, "uniqueness") == "pass"
    assert _status(vdf, 1, "uniqueness") == "fail"
    assert _status(vdf, 2, "column_stats:sr_hz") == "fail"  # high_missing
    assert _status(vdf, 3, "column_stats:dur_ms") == "fail"  # stalled
    assert _status(vdf, 4, "column_stats:dur_ms") == "fail"  # stuck
    assert _status(vdf, 5, "drift:dur_ms") == "fail"
    assert _status(vdf, 0, "drift:dur_ms") == "pass"
    assert _status(vdf, 9, "drift:sr_hz") == "pass"
    # the quantile-sketch W1 metric separates the drifted partition too
    def _metric(part, constraint, key):
        rows = vdf[(vdf.part_id == part) & (vdf.constraint == constraint)]
        return rows.metrics.iloc[0][key]
    assert _metric(5, "drift:dur_ms", "w1_norm") > 3 * _metric(0, "drift:dur_ms", "w1_norm")
    assert _status(vdf, 6, "pcm_check") == "fail"
    assert _status(vdf, 0, "pcm_check") == "pass"
    assert _status(vdf, 7, "transcript_check") == "fail"
    # empty partition: insufficient everywhere it gates
    assert _status(vdf, 8, "column_stats:dur_ms") == "insufficient_data"
    assert _status(vdf, 8, "drift:dur_ms") == "insufficient_data"
    # clean partitions pass column stats
    for p in (0, 9):
        assert _status(vdf, p, "column_stats:sr_hz") == "pass"
        assert _status(vdf, p, "column_stats:dur_ms") == "pass"


def test_violation_rows(results):
    vdf, viol = results
    dup = viol[(viol.constraint == "uniqueness") & (viol.part_id == 1)]
    assert len(dup) > 0
    # extra copies match the verdict metric
    n_extra = vdf[(vdf.part_id == 1) & (vdf.constraint == "uniqueness")].metrics.iloc[0][
        "n_extra_copies"
    ]
    assert dup.observed.astype(int).sub(1).sum() == int(n_extra)

    orphans = viol[(viol.constraint == "referential") & (viol.part_id == -1)]
    assert len(orphans) == int(CFG.orphan_ref_rate * CFG.n_clips)

    pcm = viol[viol.constraint == "pcm_check"]
    assert set(pcm.part_id) == {6}
    tr = viol[viol.constraint == "transcript_check"]
    assert 7 in set(tr.part_id)


def test_referential_missing_refs(results):
    vdf, _ = results
    # missing_ref_rate plants clips without refs across partitions -> fail rows exist
    ref_rows = vdf[vdf.constraint == "referential"]
    assert (ref_rows.status == "fail").any()
    assert len(ref_rows) == 10  # one verdict per partition


def test_reference_edge_semantics(spark):
    """Pinned ddof / null-denominator / empty-default quirks (SURVEY.md §7.4.3)."""
    pdf = pd.DataFrame(
        {
            "part_id": [0] * 6,
            "clip_id": [f"c{i}" for i in range(6)],
            "sr_hz": [8000, 8000, None, 8000, 8000, 8000],
            "dur_ms": [0, 0, 0, None, 10, 20],
            "codec": ["pcm16"] * 6,
        }
    )
    df = spark.createDataFrame(pdf)
    prof = stats.profile(df, approx=False).toPandas().iloc[0]
    n = 6.0
    # null-INCLUSIVE denominators (anomaly_detector.py:514-515)
    assert prof["dur_ms__n_zero"] / n == pytest.approx(3 / 6)
    assert (n - prof["dur_ms__n_nonnull"]) / n == pytest.approx(1 / 6)
    # sample variance ddof=1 (pandas .var(), anomaly_detector.py:516)
    expected_var = pd.Series([0, 0, 0, 10, 20], dtype=float).var()
    assert prof["dur_ms__var_samp"] == pytest.approx(expected_var)
    # population std (np.std, anomaly_detector.py:117)
    expected_std = float(np.std(np.array([0, 0, 0, 10, 20], dtype=float)))
    assert prof["dur_ms__stddev_pop"] == pytest.approx(expected_std)
    # exact percentiles = np.percentile linear interpolation (A5)
    vals = np.array([0, 0, 0, 10, 20], dtype=float)
    for q, idx in ((0.25, 1), (0.5, 2), (0.75, 3)):
        assert prof["dur_ms__quantiles"][idx] == pytest.approx(
            float(np.percentile(vals, q * 100))
        )


def test_empty_partition_defaults(spark):
    # all-null column: null_ratio 1 -> fail high_missing; zero_ratio defaults 0
    pdf = pd.DataFrame(
        {
            "part_id": [0, 0, 0],
            "clip_id": ["a", "b", "c"],
            "sr_hz": pd.array([None, None, None], dtype="Int32"),
            "dur_ms": pd.array([None, None, None], dtype="Int32"),
            "codec": ["pcm16"] * 3,
        }
    )
    df = spark.createDataFrame(pdf)
    v = stats.stats_verdicts(stats.profile(df, approx=False)).toPandas()
    row = v[v.constraint == "column_stats:dur_ms"].iloc[0]
    assert row.status == "fail"
    assert row.metrics["null_ratio"] == pytest.approx(1.0)
    assert row.metrics["zero_ratio"] == pytest.approx(0.0)
    assert row.metrics["variance"] == pytest.approx(0.0)


def test_salted_equals_unsalted(spark, clips):
    a = (
        uniqueness.duplicate_keys(clips, salt_buckets=16)
        .orderBy("part_id", "clip_id")
        .toPandas()
    )
    b = (
        uniqueness.duplicate_keys(clips, salt_buckets=1)
        .orderBy("part_id", "clip_id")
        .toPandas()
    )
    pd.testing.assert_frame_equal(a, b)


def test_verdicts_invariant_under_repartition(spark, clips, refs, baseline_rows):
    vcfg = engine.ValidationConfig(checks=("column_stats", "uniqueness", "drift"))
    v1, _ = engine.validate(spark, clips, refs, baseline_rows, cfg=vcfg)
    v2, _ = engine.validate(
        spark, clips.repartition(13, "clip_id"), refs, baseline_rows, cfg=vcfg
    )
    a = v1.select("part_id", "constraint", "status").orderBy("part_id", "constraint").toPandas()
    b = v2.select("part_id", "constraint", "status").orderBy("part_id", "constraint").toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_plan_building_py4j_budget(spark, clips, refs, baseline_rows, monkeypatch):
    """validate() only builds plans; the py4j commands it sends are a per-call
    driver cost paid by every run. Budget ~1.25x the measured 3.5k (call-site
    capture on and one union branch per column sent ~10-12k)."""
    # PySpark caches the debugging flag process-wide; re-read it from this session
    monkeypatch.setattr(err_utils, "_enable_debugging_cache", None)
    assert err_utils.is_debugging_enabled() is False

    sent = [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):  # py4j's own GC deletes
            sent[0] += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    engine.validate(
        spark,
        clips,
        refs=refs,
        baseline_rows=baseline_rows,
        ref_pcm_fn=lambda cid: synth.reference_pcm(CFG, cid),
        run_id="py4j-budget",
    )
    monkeypatch.undo()
    engine.release("py4j-budget")
    assert 0 < sent[0] <= 4400, f"{sent[0]} py4j commands to build one validate()"


def test_resume_from_manifest(spark, clips, refs, baseline_rows, tmp_path):
    man_path = str(tmp_path / "manifest")
    vcfg = engine.ValidationConfig(checks=("column_stats", "uniqueness"))
    # phase 1: validate only partitions 0-4 (simulated partial run / crash)
    first = clips.filter(F.col("part_id") <= 4)
    engine.validate(spark, first, cfg=vcfg, run_id="run1", manifest_path=man_path)
    man = mf.read_manifest(spark, man_path)
    n_constraints = len(vcfg.runnable_constraints())
    pend = mf.pending_partitions(clips.select("part_id"), man, n_constraints).toPandas()
    assert set(pend.part_id) == {5, 6, 7, 8, 9}
    # phase 2: resume completes only the pending ones
    v2, _ = engine.incremental_validate(
        spark, clips, man_path, refs=refs, cfg=vcfg, run_id="run2"
    )
    assert set(v2.toPandas().part_id) == {5, 6, 7, 8, 9}
    # after resume nothing is pending and manifest covers all 10 partitions
    man = mf.read_manifest(spark, man_path)
    pend = mf.pending_partitions(clips.select("part_id"), man, n_constraints).toPandas()
    assert len(pend) == 0
    # final verdict set identical to a fresh full run (statuses per part/constraint)
    full, _ = engine.validate(spark, clips, cfg=vcfg, run_id="full")
    full_pdf = (
        full.select("part_id", "constraint", "status")
        .orderBy("part_id", "constraint")
        .toPandas()
    )
    man_pdf = (
        man.filter(F.col("constraint").isin(vcfg.runnable_constraints()))
        .select("part_id", "constraint", "status")
        .dropDuplicates(["part_id", "constraint"])
        .orderBy("part_id", "constraint")
        .toPandas()
    )
    pd.testing.assert_frame_equal(full_pdf, man_pdf)


def test_incremental_noop_when_complete(spark, clips, tmp_path):
    man_path = str(tmp_path / "manifest2")
    vcfg = engine.ValidationConfig(checks=("uniqueness",))
    engine.validate(spark, clips, cfg=vcfg, run_id="r1", manifest_path=man_path)
    v, _ = engine.incremental_validate(spark, clips, man_path, cfg=vcfg, run_id="r2")
    assert v.count() == 0


def test_release_unpersists_cached_plans(spark, clips, refs, baseline_rows):
    """VERDICT r2 #5: N successive validate() calls + release() leave no
    cached plans behind (long-lived sessions — the streaming foreachBatch
    pattern — must not accumulate persisted DataFrames per run)."""
    # start from a clean cache state: earlier module tests ran validate()
    # without release, and the async ContextCleaner reaps their RDDs at
    # unpredictable times, which would make a raw before/after count flaky
    engine.release_all()
    spark.catalog.clearCache()
    clips.count(), refs.count()  # re-materialize the fixtures' own .cache()
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    for i in range(3):
        rid = f"rel-{i}"
        v, viol = engine.validate(
            spark,
            clips,
            refs=refs,
            baseline_rows=baseline_rows,
            ref_pcm_fn=lambda cid: synth.reference_pcm(CFG, cid),
            run_id=rid,
        )
        v.count(), viol.count()  # materialize (persists meta/checked/tr)
        assert jsc.getPersistentRDDs().size() > before
        engine.release(rid)
        assert jsc.getPersistentRDDs().size() == before
    engine.release("rel-0")  # double release is a no-op


def test_content_dedup_cross_partition_different_ids(spark):
    """content_dedup catches the case key-uniqueness cannot: identical
    payload under DIFFERENT clip_ids, landing in DIFFERENT partitions. The
    keeper (min clip_id) passes; every other copy is a violation row."""
    import pandas as pd

    cfg2 = synth.clean_config(n_clips=60, clips_per_partition=20)
    pdf = synth.clips_pdf(cfg2)
    dup = pdf.iloc[[0]].copy()
    dup["clip_id"] = "zz-reupload"   # different key, same bytes
    dup["part_id"] = 2               # different partition
    clips = spark.createDataFrame(pd.concat([pdf, dup], ignore_index=True))

    vcfg = engine.ValidationConfig(checks=("content_dedup",))
    verdicts, violations = engine.validate(spark, clips, cfg=vcfg, run_id="cd1")
    v = verdicts.toPandas().set_index("part_id")
    assert v.loc[0].status == "pass"      # keeper's partition: no non-keeper rows
    assert v.loc[2].status == "fail"
    viol = violations.toPandas()
    assert list(viol.clip_id) == ["zz-reupload"]
    assert viol.expected.iloc[0] == pdf.clip_id.iloc[0]  # keeper named
    engine.release("cd1")

    # clean table: all partitions pass, no violations
    clean = spark.createDataFrame(pdf)
    verdicts2, violations2 = engine.validate(spark, clean, cfg=vcfg, run_id="cd2")
    assert (verdicts2.toPandas().status == "pass").all()
    assert violations2.count() == 0
    engine.release("cd2")


def test_validate_isolated_survives_runtime_family_failure(spark, clips):
    """validate_isolated: a family that fails at RUNTIME (not plan build)
    yields an error verdict while the other families' results survive — the
    isolation the single-job validate() cannot provide (its families union
    into one action)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.udf(T.StringType())
    def _boom(s):
        raise RuntimeError("refs store outage")

    # builds fine; explodes when the referential join actually executes
    bad_refs = (
        spark.createDataFrame(synth.clips_pdf(CLEAN))
        .select(_boom(F.col("clip_id")).alias("clip_id"),
                F.col("transcript"))
    )
    vcfg = engine.ValidationConfig(checks=("column_stats", "uniqueness", "referential"))
    verdicts, violations = engine.validate_isolated(
        spark, clips, refs=bad_refs, cfg=vcfg, run_id="iso1"
    )
    vdf = verdicts.toPandas()
    ref_rows = vdf[vdf.constraint == "referential"]
    assert list(ref_rows.status) == ["error"]
    assert "refs store outage" in ref_rows.detail.iloc[0]
    # the healthy families are complete and normal
    assert (vdf[vdf.constraint == "uniqueness"].status.isin(["pass", "fail"])).all()
    assert len(vdf[vdf.constraint == "uniqueness"]) == 10
    assert (vdf.constraint.str.startswith("column_stats:")).sum() == 20
    assert violations.filter("constraint = 'uniqueness'").count() > 0
    engine.release("iso1")

    # plain validate() on the same inputs aborts the whole action (documented).
    # collect(), not count(): a count-only plan can prune its way around the
    # failing expression and succeed, which says nothing about the run.
    v2, _ = engine.validate(spark, clips, refs=bad_refs, cfg=vcfg, run_id="iso2")
    import pytest as _pt

    with _pt.raises(Exception):
        v2.collect()
    engine.release("iso2")


def test_pcm_digest_matches_catalyst_sha2(spark, clips):
    """The fused digest (hashlib inside the PCM UDF) must be byte-identical
    to Catalyst's sha2(bytes, 256) — the invariant that lets content_dedup
    ride the PCM scan without changing its results."""
    from real_time_anomaly_detection_spark.operators import audio_checks

    got = (
        audio_checks.pcm_check(
            clips, lambda cid: synth.reference_pcm(CFG, cid), with_digest=True
        )
        .select("clip_id", "content_hash")
        .toPandas()
        .set_index("clip_id")["content_hash"]
    )
    want = (
        clips.select("clip_id", F.sha2(F.col("bytes"), 256).alias("h"))
        .toPandas()
        .set_index("clip_id")["h"]
    )
    assert got.sort_index().equals(want.sort_index())


def test_content_dedup_rides_pcm_scan(spark, refs):
    """VERDICT r3 #6: with BOTH audio and content_dedup enabled, the digest
    comes out of the PCM pass's Arrow batches — no Catalyst sha2(bytes)
    projection (i.e. no second payload scan) anywhere in either output plan —
    and the planted cross-partition content dup is still caught."""
    cfg2 = synth.clean_config(n_clips=60, clips_per_partition=20)
    pdf = synth.clips_pdf(cfg2)
    dup = pdf.iloc[[0]].copy()
    dup["clip_id"] = "zz-reupload"
    dup["part_id"] = 2
    clips2 = spark.createDataFrame(pd.concat([pdf, dup], ignore_index=True))

    vcfg = engine.ValidationConfig(checks=("content_dedup", "audio"))
    verdicts, violations = engine.validate(
        spark, clips2,
        refs=synth.transcripts_ref_df(spark, cfg2),
        ref_pcm_fn=lambda cid: synth.reference_pcm(cfg2, cid),
        cfg=vcfg, run_id="fuse1",
    )
    plans = (
        verdicts._jdf.queryExecution().toString()
        + violations._jdf.queryExecution().toString()
    )
    assert "sha2" not in plans, "content_dedup paid its own digest scan"
    viol = violations.toPandas()
    cd = viol[viol.constraint == "content_dedup"]
    assert list(cd.clip_id) == ["zz-reupload"]
    engine.release("fuse1")

    # audio OFF: content_dedup falls back to its own map-side sha2 scan and
    # finds the same dup
    vcfg_solo = engine.ValidationConfig(checks=("content_dedup",))
    v2, viol2 = engine.validate(spark, clips2, cfg=vcfg_solo, run_id="fuse2")
    assert "sha2" in viol2._jdf.queryExecution().toString()
    cd2 = viol2.toPandas()
    assert list(cd2[cd2.constraint == "content_dedup"].clip_id) == ["zz-reupload"]
    engine.release("fuse2")


# A small golden table (4 partitions) for the family-gating rows below.
SMALL = synth.golden_config(n_clips=400, clips_per_partition=100)
AUDIO = ("column_stats", "uniqueness", "referential", "drift", "audio")
METADATA = ("column_stats", "uniqueness", "referential", "drift", "speaking_rate")
INPUTS = ("refs", "baseline_rows", "ref_pcm_fn")


@pytest.fixture(scope="module")
def small(spark):
    clean = spark.createDataFrame(synth.clips_pdf(synth.clean_config(400, 100)))
    return {
        "clips": spark.createDataFrame(synth.clips_pdf(SMALL)).cache(),
        "refs": synth.transcripts_ref_df(spark, SMALL).cache(),
        "ref_pcm_fn": lambda cid: synth.reference_pcm(SMALL, cid),
        "baselines": {
            cols: drift.make_baseline(clean, cols) for cols in (("dur_ms", "sr_hz"), ("dur_ms",))
        },
    }


def _gating_rows():
    full = ("dur_ms", "sr_hz")
    rows = [pytest.param((f.check,), {}, INPUTS, full, False, id=f.check)
            for f in engine.FAMILIES]
    for name, checks in (("AUDIO", AUDIO), ("METADATA", METADATA)):
        rows.append(pytest.param(checks, {}, INPUTS, full, False, id=name))
        rows += [
            pytest.param(checks, {}, tuple(i for i in INPUTS if i != drop), full, False,
                         id=f"{name}-without-{drop}")
            for drop in INPUTS
        ]
    return rows + [
        # a baseline over fewer columns than ValidationConfig.columns
        pytest.param(("column_stats", "drift"), {}, INPUTS, ("dur_ms",), True,
                     id="drift-baseline-narrower"),
        # a baseline over more columns than ValidationConfig.columns
        pytest.param(("column_stats", "drift"), {"columns": ("sr_hz",)}, INPUTS, full, True,
                     id="drift-config-narrower"),
    ]


@pytest.mark.parametrize("checks, cfg_kw, present, base_cols, resume", _gating_rows())
def test_emitted_constraints_equal_runnable(
    spark, small, tmp_path, checks, cfg_kw, present, base_cols, resume
):
    """validate() emits exactly the constraint names runnable_constraints()
    promises for the same inputs, without error rows, so a resume right
    after a complete validate finds nothing pending."""
    cfg = engine.ValidationConfig(checks=checks, **cfg_kw)
    given = {"refs": small["refs"], "baseline_rows": small["baselines"][base_cols],
             "ref_pcm_fn": small["ref_pcm_fn"]}
    inputs = {k: (v if k in present else None) for k, v in given.items()}
    man = str(tmp_path / "manifest") if resume else None
    v, _ = engine.validate(spark, small["clips"], cfg=cfg, run_id="gate",
                           manifest_path=man, **inputs)
    rows = v.select("constraint", "status", "detail").collect()
    assert [(r.constraint, r.detail) for r in rows if r.status == "error"] == []
    assert {r.constraint for r in rows} == set(cfg.runnable_constraints(**inputs))
    if resume:
        again, _ = engine.incremental_validate(
            spark, small["clips"], man, cfg=cfg, run_id="gate-resume", **inputs)
        assert again.count() == 0
        engine.release("gate-resume")
    engine.release("gate")


def test_pcm_build_failure_records_one_audio_error(spark, small, monkeypatch):
    """A PCM pass whose plan cannot be built yields one `audio` error row;
    metadata_integrity and content_dedup, which ride that pass when audio
    runs, fall back to their own scans and produce the rows they produce
    with audio off."""
    from real_time_anomaly_detection_spark.operators import audio_checks

    def _fail(*args, **kwargs):
        raise RuntimeError("pcm plan failed")

    monkeypatch.setattr(audio_checks, "pcm_check", _fail)
    kw = dict(refs=small["refs"], ref_pcm_fn=small["ref_pcm_fn"])
    v, viol = engine.validate(
        spark, small["clips"], run_id="pcm-fail", **kw,
        cfg=engine.ValidationConfig(checks=("metadata_integrity", "content_dedup", "audio")))
    v_ref, viol_ref = engine.validate(
        spark, small["clips"], run_id="pcm-ref", **kw,
        cfg=engine.ValidationConfig(checks=("metadata_integrity", "content_dedup")))

    def _rows(df):  # full rows, map columns as sorted items, compared by repr
        return sorted(
            repr({k: (sorted(x.items()) if isinstance(x, dict) else x)
                  for k, x in r.asDict().items()})
            for r in df.collect()
        )

    errors = v.filter("status = 'error'").collect()
    assert [(r.constraint, r.part_id) for r in errors] == [("audio", -1)]
    assert "pcm plan failed" in errors[0].detail
    assert _rows(v.filter("status != 'error'")) == _rows(v_ref)
    assert _rows(viol) == _rows(viol_ref)
    engine.release("pcm-fail")
    engine.release("pcm-ref")
