"""CLI flows driven in-process (the `spark` fixture is the active session, so
`cli._spark` reuses it — the same path a spark-submit-provided session takes).

Covers the ADVICE r2 sidecar fix (synth writes _synth_config.json; validate
--synth-oracle reads it back so the PCM oracle always matches the data) and
the VERDICT r2 #6 stream-validate subcommand, and the `package` zip that
spark-submit --py-files ships.
"""

import json
import os

from real_time_anomaly_detection_spark import cli


def test_synth_writes_sidecar_and_validate_reads_it(spark, tmp_path, capsys):
    data = str(tmp_path / "clips")
    cli.main(["synth", "--n-clips", "300", "--clips-per-partition", "100",
              "--out", data])
    sidecar = os.path.join(data, cli.SYNTH_SIDECAR)
    assert os.path.isfile(sidecar)
    assert json.load(open(sidecar)) == {
        "n_clips": 300, "clips_per_partition": 100, "golden": False
    }

    # validate with --synth-oracle and DELIBERATELY WRONG flags: the sidecar
    # must win, so the clean table passes every audio check
    out = str(tmp_path / "val")
    cli.main(["validate", "--input", data, "--refs", data + "_refs",
              "--out", out, "--synth-oracle",
              "--n-clips", "7", "--clips-per-partition", "3"])
    v = spark.read.parquet(os.path.join(out, "verdicts"))
    pcm = v.filter(v.constraint == "pcm_check").collect()
    assert pcm and all(r.status == "pass" for r in pcm)
    # and the run's cached plans were released (engine.release in the CLI)
    from real_time_anomaly_detection_spark import engine

    assert not engine._PERSISTED


def test_validate_without_sidecar_warns_and_uses_flags(spark, tmp_path, capsys):
    from real_time_anomaly_detection_spark import synth

    data = str(tmp_path / "clips_ns")
    cfg = synth.clean_config(n_clips=200, clips_per_partition=100)
    synth.clips_df(spark, cfg).write.parquet(data)
    synth.transcripts_ref_df(spark, cfg).write.parquet(data + "_refs")
    out = str(tmp_path / "val_ns")
    cli.main(["validate", "--input", data, "--refs", data + "_refs",
              "--out", out, "--synth-oracle",
              "--n-clips", "200", "--clips-per-partition", "100"])
    assert "_synth_config.json" in capsys.readouterr().err
    v = spark.read.parquet(os.path.join(out, "verdicts"))
    assert all(r.status == "pass" for r in v.filter(v.constraint == "pcm_check").collect())


def test_stream_validate_cli_drains_and_is_resumable(spark, tmp_path):
    data = str(tmp_path / "sv_clips")
    cli.main(["synth", "--n-clips", "200", "--clips-per-partition", "100",
              "--out", data])
    out = str(tmp_path / "sv_out")
    ckpt = str(tmp_path / "sv_ckpt")
    cli.main(["stream-validate", "--input", data, "--refs", data + "_refs",
              "--checkpoint", ckpt, "--out", out, "--synth-oracle"])
    v = spark.read.parquet(os.path.join(out, "verdicts"))
    assert v.filter(v.status != "pass").count() == 0
    assert "epoch_id" in v.columns  # epoch-keyed idempotent layout
    n1 = v.count()
    # re-drain with no new files: checkpoint makes it a no-op (T6 resumability)
    cli.main(["stream-validate", "--input", data, "--refs", data + "_refs",
              "--checkpoint", ckpt, "--out", out, "--synth-oracle"])
    assert spark.read.parquet(os.path.join(out, "verdicts")).count() == n1


def test_validate_cli_content_dedup_flag(spark, tmp_path):
    data = str(tmp_path / "cd_clips")
    cli.main(["synth", "--n-clips", "120", "--clips-per-partition", "40",
              "--out", data])
    out = str(tmp_path / "cd_val")
    cli.main(["validate", "--input", data, "--out", out, "--content-dedup"])
    v = spark.read.parquet(os.path.join(out, "verdicts"))
    cd = v.filter(v.constraint == "content_dedup").collect()
    assert len(cd) == 3 and all(r.status == "pass" for r in cd)


def test_incremental_resumes_keep_earlier_runs(spark, tmp_path):
    """incremental writes each run under run_id=<id>: a resume over newly
    appended partitions, then a no-op resume, into the same --out keep the
    first resume's verdicts and violation rows (metadata checks only)."""
    from real_time_anomaly_detection_spark import synth

    cfg = synth.golden_config(n_clips=400, clips_per_partition=100)
    clips = synth.clips_df(spark, cfg)
    data, refs = str(tmp_path / "inc_clips"), str(tmp_path / "inc_refs")
    synth.transcripts_ref_df(spark, cfg).write.parquet(refs)
    clips.filter("part_id < 2").write.parquet(data)
    out, man = str(tmp_path / "inc_out"), str(tmp_path / "inc_manifest")

    def resume(run_id):
        cli.main(["incremental", "--input", data, "--refs", refs,
                  "--manifest", man, "--out", out, "--run-id", run_id])

    def parts(table, run_id=None):
        df = spark.read.parquet(os.path.join(out, table))
        if run_id:
            df = df.filter(df.run_id == run_id)
        return {r.part_id for r in df.select("part_id").distinct().collect()}

    resume("r1")
    r1_viol = sorted(spark.read.parquet(
        os.path.join(out, "violations", "run_id=r1")).collect(), key=str)
    assert parts("verdicts", "r1") == {0, 1} and r1_viol

    clips.filter("part_id >= 2").write.mode("append").parquet(data)
    resume("r2")
    assert parts("verdicts", "r2") == {2, 3}
    resume("r3")  # nothing pending
    assert parts("verdicts", "r3") == set()

    assert parts("verdicts") == {0, 1, 2, 3}
    viol = spark.read.parquet(os.path.join(out, "violations"))
    assert sorted(viol.filter(viol.run_id == "r1").drop("run_id").collect(),
                  key=str) == r1_viol


def test_features_cli(spark, tmp_path):
    data = str(tmp_path / "f_clips")
    cli.main(["synth", "--n-clips", "80", "--clips-per-partition", "40",
              "--out", data])
    out = str(tmp_path / "f_out")
    cli.main(["features", "--input", data, "--out", out])
    feats = spark.read.parquet(os.path.join(out, "features"))
    filt = spark.read.parquet(os.path.join(out, "filter"))
    assert feats.count() == 80 and filt.count() == 80
    assert feats.filter(~feats.decoded_ok).count() == 0  # clean synth decodes
    assert filt.filter(filt.keep).count() == 80          # synth tones pass curation


def test_dedup_apply_cli(spark, tmp_path):
    """dedup-apply: cluster a pairs root (epoch_id=N dirs of doc_a, doc_b)
    and emit clusters + the surviving corpus — chain {0,1,2} survives as 0,
    pair {10,11} as 10, loner 20 untouched. cluster-update over the same
    root folds both epochs into labels equal to dedup-apply's clusters."""
    pairs_root = str(tmp_path / "pairs")
    spark.createDataFrame([(0, 1), (1, 2)], "doc_a long, doc_b long").write.parquet(
        os.path.join(pairs_root, "epoch_id=0"))
    spark.createDataFrame([(10, 11)], "doc_a long, doc_b long").write.parquet(
        os.path.join(pairs_root, "epoch_id=1"))
    docs = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"text {i}") for i in (0, 1, 2, 10, 11, 20)],
        "doc_id long, text string").write.parquet(docs)

    out = str(tmp_path / "applied")
    cli.main(["dedup-apply", "--pairs", pairs_root, "--docs", docs,
              "--out", out])

    clusters = {r.doc_id: (r.cluster_id, r.is_keeper)
                for r in spark.read.parquet(os.path.join(out, "clusters")).collect()}
    assert clusters == {0: (0, True), 1: (0, False), 2: (0, False),
                        10: (10, True), 11: (10, False)}
    survivors = sorted(
        r.doc_id for r in spark.read.parquet(os.path.join(out, "survivors")).collect())
    assert survivors == [0, 10, 20]

    from real_time_anomaly_detection_spark.streaming import clusters as C

    clroot = str(tmp_path / "cl")
    cli.main(["cluster-update", "--pairs", pairs_root, "--out", clroot])
    labels = {r.doc_id: r.label for r in C.head_labels(spark, clroot).collect()}
    assert labels == {d: cid for d, (cid, _) in clusters.items()}


def test_audio_neardup_transcript_conflicts_cli(spark, tmp_path):
    """audio-neardup --transcript-conflicts: near-identical audio under
    disagreeing labels surfaces in transcript_conflicts/; agreeing
    duplicates do not."""
    import numpy as np

    from real_time_anomaly_detection_spark.audio import codecs

    sr = 16000
    t = np.arange(sr) / sr
    x = np.sin(2 * np.pi * 440 * t) + 0.5 * np.sin(2 * np.pi * 1300 * t)
    y = np.sin(2 * np.pi * 700 * t) + 0.4 * np.sin(2 * np.pi * 2100 * t)
    rows = [
        (0, "m0", codecs.pcm16_encode(x), sr, "pcm16", "the same words"),
        (1, "m1", codecs.pcm16_encode(0.5 * x), sr, "pcm16",
         "entirely different words"),          # same audio, conflicting label
        (0, "k0", codecs.pcm16_encode(y), sr, "pcm16", "agreeing label"),
        (1, "k1", codecs.pcm16_encode(0.7 * y), sr, "pcm16", "Agreeing  LABEL"),
    ]
    data = str(tmp_path / "tc_clips")
    spark.createDataFrame(
        rows, "part_id int, clip_id string, bytes binary, sr_hz long, "
              "codec string, transcript string"
    ).write.parquet(data)
    out = str(tmp_path / "tc_out")
    cli.main(["audio-neardup", "--input", data, "--out", out,
              "--transcript-conflicts"])
    pair_keys = {(r.clip_a, r.clip_b) for r in
                 spark.read.parquet(os.path.join(out, "pairs")).collect()}
    assert {("k0", "k1"), ("m0", "m1")} <= pair_keys
    conflicts = spark.read.parquet(
        os.path.join(out, "transcript_conflicts")).collect()
    assert {(r.clip_a, r.clip_b) for r in conflicts} == {("m0", "m1")}
    assert conflicts[0].jaccard < 0.8


def test_audio_containment_cli(spark, tmp_path):
    """audio-containment: frame fingerprints + offset-vote containments
    from a clips table with planted trimmed excerpts."""
    import numpy as np

    from real_time_anomaly_detection_spark.audio import codecs

    rng = np.random.default_rng(7)
    sr = 16000
    seg = sr // 4
    t = np.arange(seg) / sr

    def chaptered(seed):
        r = np.random.default_rng(seed)
        return np.concatenate([
            sum(a * np.sin(2 * np.pi * f * t)
                for f, a in zip(r.uniform(100, 3500, 3), r.uniform(0.3, 1, 3)))
            for _ in range(8)
        ])

    rows = []
    for i in range(4):
        x = chaptered(200 + i)
        rows.append((i, f"outer_{i}", codecs.pcm16_encode(x), sr, "pcm16"))
        s0 = int((0.3 + 0.1 * i) * sr) + int(rng.integers(0, 128))
        rows.append((i, f"inner_{i}",
                     codecs.pcm16_encode(0.5 * x[s0: s0 + sr]), sr, "pcm16"))
    data = str(tmp_path / "ct_clips")
    spark.createDataFrame(
        rows, "part_id int, clip_id string, bytes binary, sr_hz long, codec string"
    ).write.parquet(data)

    out = str(tmp_path / "ct_out")
    cli.main(["audio-containment", "--input", data, "--out", out])
    fps = spark.read.parquet(os.path.join(out, "frame_fps"))
    assert fps.count() == 8 and fps.filter(~fps.fp_ok).count() == 0
    got = {(r.inner, r.outer)
           for r in spark.read.parquet(os.path.join(out, "containments")).collect()}
    assert {(f"inner_{i}", f"outer_{i}") for i in range(4)} <= got
    assert not {(a, b) for a, b in got if a.split("_")[1] != b.split("_")[1]}
    canon = {r.clip_id: r.canonical
             for r in spark.read.parquet(os.path.join(out, "canonical")).collect()}
    assert all(canon[f"inner_{i}"] == f"outer_{i}" for i in range(4))


def test_audio_neardup_cli(spark, tmp_path):
    """audio-neardup: fingerprints + banded-Hamming pairs + clusters from a
    clips table. Synth plants exact duplicate rows sharing their canonical
    signal, so pairs must be non-empty, hamming-0 pairs must exist, and
    every cluster keeper must be its cluster's min clip_id."""
    data = str(tmp_path / "an_clips")
    cli.main(["synth", "--n-clips", "300", "--clips-per-partition", "100",
              "--out", data])
    out = str(tmp_path / "an_out")
    cli.main(["audio-neardup", "--input", data, "--out", out])
    fps = spark.read.parquet(os.path.join(out, "fingerprints"))
    pairs = spark.read.parquet(os.path.join(out, "pairs"))
    clusters = spark.read.parquet(os.path.join(out, "clusters"))
    assert fps.count() == 300
    assert fps.filter(~fps.fp_ok).count() == 0
    n_pairs = pairs.count()
    assert n_pairs > 0 and pairs.filter(pairs.hamming == 0).count() > 0
    assert pairs.filter(pairs.hamming > 7).count() == 0
    from pyspark.sql import functions as F

    bad_keeper = (
        clusters.groupBy("cluster_id")
        .agg(F.min("clip_id").alias("lo"), F.count(F.lit(1)).alias("n"))
        .join(clusters.filter("is_keeper"), "cluster_id")
        .filter((F.col("clip_id") != F.col("lo")) | (F.col("clip_id") != F.col("cluster_id")))
        .count()
    )
    assert bad_keeper == 0


def test_partition_overlap_cli(spark, tmp_path):
    data = str(tmp_path / "po_clips")
    cli.main(["synth", "--n-clips", "120", "--clips-per-partition", "40",
              "--out", data])
    out = str(tmp_path / "po_out")
    cli.main(["partition-overlap", "--input", data, "--out", out,
              "--n-hashes", "16"])
    sig = spark.read.parquet(os.path.join(out, "signatures"))
    ov = spark.read.parquet(os.path.join(out, "overlap"))
    assert sig.count() == 3                      # one signature per partition
    assert ov.count() == 3                       # 3 choose 2 pairs
    assert {c for c in ov.columns} == {
        "part_a", "part_b", "n_matching_lanes", "est_jaccard"}
    # distinct synth payloads: no partition pair should look identical
    assert ov.filter(ov.est_jaccard >= 1.0).count() == 0


def test_package_zip_serves_the_cli(tmp_path, capsys):
    """The spark-submit --py-files path: `package` zips the package tree,
    and a fresh interpreter whose sys.path holds only that zip (plus the
    stdlib and site-packages, `python -I`) imports the CLI from it and lists
    the same verbs as the in-tree CLI. Runs no Spark job."""
    import re
    import subprocess
    import sys
    import zipfile

    import pytest

    def verbs(help_text):
        return sorted(re.search(r"\{([a-z,-]+)\}", help_text).group(1).split(","))

    with pytest.raises(SystemExit):
        cli.main(["--help"])
    in_tree = verbs(capsys.readouterr().out)
    assert "package" in in_tree and "validate" in in_tree

    zpath = str(tmp_path / "pkg.zip")
    cli.main(["package", "--out", zpath])
    root = os.path.dirname(os.path.dirname(os.path.abspath(cli.__file__)))
    pkg_dir = os.path.join(root, "real_time_anomaly_detection_spark")
    on_disk = {
        os.path.relpath(os.path.join(d, f), root).replace(os.sep, "/")
        for d, _dirs, files in os.walk(pkg_dir) if "__pycache__" not in d
        for f in files if f.endswith(".py")
    }
    with zipfile.ZipFile(zpath) as z:
        assert {n for n in z.namelist() if n.endswith(".py")} == on_disk

    code = (
        "import sys, runpy; sys.path.insert(0, sys.argv[1]);"
        "import real_time_anomaly_detection_spark as P;"
        "assert P.__file__.startswith(sys.argv[1]), P.__file__;"
        "sys.argv = ['rtad-spark', '--help'];"
        "runpy.run_module('real_time_anomaly_detection_spark.cli',"
        " run_name='__main__')"
    )
    res = subprocess.run([sys.executable, "-I", "-c", code, zpath],
                         cwd=str(tmp_path), capture_output=True, text=True,
                         timeout=120)
    assert res.returncode == 0, res.stderr
    assert verbs(res.stdout) == in_tree
